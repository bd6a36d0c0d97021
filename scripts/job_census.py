#!/usr/bin/env python3
"""Attribute every Spark job of one benchmark cycle to the engine source
lines that submitted it.

    python3 scripts/job_census.py --workload index_maintain --seed 601

The workload is set up and warmed up through perfbench's own entry
points (the same inputs, stores and warmup ops a benchmark run of that
seed gets). Then one cycle of ops runs under ``sys.settrace``: at every
line of ``parquet_demo_spark`` and ``perfbench`` code the DAGScheduler's
job-id counter is read, and the jobs submitted since the previous read
are charged to the stack of source lines that was executing. Only the
main thread is traced, so the jobs of a pool thread land on the line
that waits on the pool. Prints per-op job totals, then per op the lines
that submitted jobs, each with its call chain (innermost first).

This is a separate pass: it never runs inside ``bench.py`` or a
benchmark's timed region, and its tracing makes the cycle slower than a
benchmark run of it. Job counts are unaffected.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from collections import Counter
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
_TRACED = tuple(
    os.path.join(ROOT, d) + os.sep for d in ("parquet_demo_spark", "perfbench")
)


class Census:
    """Job-id counter deltas charged to the traced source-line stack."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._last = self._next_id()
        self._stack: tuple[str, ...] = ("<untraced>",)
        self._op: str | None = None
        self.ops: dict[str, int] = {}
        self.lines: dict[str, Counter] = {}

    def _next_id(self) -> int:
        # py4j hands the counter (an AtomicInteger) over as its value
        return int(self._dag.nextJobId())

    def _charge(self) -> None:
        n = self._next_id()
        if n != self._last and self._op is not None:
            self.ops[self._op] += n - self._last
            self.lines[self._op][self._stack] += n - self._last
        self._last = n

    @staticmethod
    def _where(frame) -> tuple[str, ...]:
        out = []
        while frame is not None:
            f = frame.f_code.co_filename
            if f.startswith(_TRACED):
                out.append(f"{os.path.relpath(f, ROOT)}:{frame.f_lineno}")
            frame = frame.f_back
        return tuple(out)

    def _local(self, frame, event, arg):
        # jobs since the last event ran on the line executing then; a
        # return hands the rest of the caller's line to the caller
        if event == "line":
            self._charge()
            self._stack = self._where(frame)
        elif event == "return":
            self._charge()
            self._stack = self._where(frame.f_back) or ("<untraced>",)
        return self._local

    def _global(self, frame, event, arg):
        if frame.f_code.co_filename.startswith(_TRACED):
            return self._local
        return None

    @contextmanager
    def op(self, name: str):
        self._charge()
        self._op = name
        self.ops[name] = 0
        self.lines[name] = Counter()
        self._stack = ("<untraced>",)
        sys.settrace(self._global)
        try:
            yield
        finally:
            sys.settrace(None)
            self._charge()
            self._op = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--depth", type=int, default=4,
        help="call-chain frames printed per line (innermost first)",
    )
    args = ap.parse_args(argv)

    from perfbench import run as prun

    work = os.path.join(ROOT, ".perfbench", f"census-{os.getpid()}")
    prun._env(work)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.environ["TMPDIR"])
    workload = prun._workload(args.workload)
    prun._adopt_orphans()
    try:
        census = _run(args, workload, work)
    finally:
        prun._end_processes()
        shutil.rmtree(work, ignore_errors=True)

    total = sum(census.ops.values())
    print(f"# {args.workload} seed {args.seed}: {total} jobs in "
          f"{len(census.ops)} ops ({total / max(1, len(census.ops)):.2f} per op)")
    for name, n in census.ops.items():
        print(f"{n:5d}  {name}")
    for name, lines in census.lines.items():
        print(f"\n## {name}: {census.ops[name]} jobs")
        for stack, n in lines.most_common():
            print(f"{n:5d}  " + " <- ".join(stack[: args.depth]))
    return 0


def _run(args, workload, work: str) -> Census:
    from parquet_demo_spark.session import get_spark, stop_spark

    from perfbench import run as prun
    from perfbench.counters import Recorder

    spark = get_spark(
        app_name=f"job_census_{args.workload}", extra_conf=prun._spark_conf(work)
    )
    try:
        workload.setup(spark, args.seed, work)
        workload.warmup()
        rec = Recorder(spark, traced=False)
        run_op = workload._op(rec)
        census = Census(spark)
        start = workload.next_op
        for i in range(start, start + workload.cycle_len):
            op = workload.ops[i]
            with census.op(f"{i - start}:{op['kind']}"):
                res = run_op(i, op)
            after = res.pop("after", None)
            if after is not None:
                after(res)
        return census
    finally:
        stop_spark()


if __name__ == "__main__":
    sys.exit(main())
