"""The closed loop shared by every workload, and its summary."""

from __future__ import annotations

import time

from perfbench.counters import JobCounter, Recorder, WriteMeter, tree_size
from perfbench.stats import p50, tail


def closed_loop(rec, ops, start: int, run_op, seconds: float | None = None,
                count: int | None = None, cycle: int = 1) -> list[dict]:
    """Run ``ops[start:]`` one after another: ``count`` ops, or whole
    cycles of ``cycle`` ops until ``seconds`` of wall clock have passed
    (the last cycle is finished, so every run measures the same op mix).
    ``run_op(i, op)`` returns the op's outcome dict and may put a
    callable under ``"after"``: bookkeeping that runs outside the op's
    latency (store walks, version reads). An op that raises is recorded
    with its error, and the loop goes on with the next op."""
    out = []
    t_end = time.perf_counter() + (seconds or 0.0)
    i = start

    def more() -> bool:
        if count is not None:
            return i < start + count
        return (i - start) % cycle != 0 or time.perf_counter() < t_end

    while more():
        op = ops[i]
        r: dict = {}
        try:
            with rec.op(i, op["kind"]) as r:
                res = run_op(i, op)
            after = res.pop("after", None)
            if after is not None:
                after(res)
        except Exception as e:  # noqa: BLE001 - reported as a failed op
            res = {"error": repr(e)}
        out.append({"i": i, "kind": op["kind"], "s": r.get("s", 0.0), **res})
        i += 1
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def errors(log: list[dict]) -> int:
    """Ops that raised."""
    return sum("error" in r for r in log)


def latency_metrics(results: list[dict], classes: dict[str, tuple[str, ...]]) -> dict:
    """``<class>_p50_s`` and ``<class>_tail_s`` per op class, with the
    tail's percentile and sample count beside it, plus the throughput
    and write figures of the window."""
    out: dict = {"errors": errors(results)}
    results = [r for r in results if "error" not in r]
    for cls, kinds in classes.items():
        xs = [r["s"] for r in results if r["kind"] in kinds]
        if not xs:
            continue
        out[f"{cls}_p50_s"] = p50(xs)
        t = tail(xs)
        if t is not None:
            out[f"{cls}_tail_s"], out[f"{cls}_tail_pct"], out[f"{cls}_tail_n"] = t
        else:
            out[f"{cls}_tail_n"] = len(xs)
    busy = sum(r["s"] for r in results)
    bytes_in = sum(r.get("bytes_in", 0) for r in results)
    out["ops"] = len(results)
    out["busy_s"] = busy
    # a window whose ops all failed still reports (the run is failed)
    out["ops_per_s"] = _ratio(len(results), busy)
    out["rows_in_per_s"] = _ratio(sum(r.get("rows_in", 0) for r in results), busy)
    out["write_amp"] = _ratio(sum(r.get("bytes_added", 0) for r in results), bytes_in)
    gauges = [r for r in results if "store_bytes" in r]
    if gauges:
        out["store.bytes"] = sum(r["store_bytes"] for r in gauges) / len(gauges)
        out["store.files"] = sum(r["store_files"] for r in gauges) / len(gauges)
    return out


class Workload:
    """Warmup and timed runs over ``self.ops``. A subclass sets
    ``spark``, ``ops``, ``classes``, ``warmup_ops``, ``cycle_len``,
    ``roots`` (the directories it writes) and ``calls`` (the public
    calls its ops make, ``<layer>.<function>``) by the end of ``setup``,
    and implements ``run_op(rec, i, op)``; an op that writes returns
    ``bytes_in``."""

    def warmup(self) -> list[float]:
        """The leading ops of the schedule, untimed; returns their latencies."""
        self.log: list[dict] = []  # every op, warmup included, for the checks and errors
        self.meter = None
        rec = Recorder(self.spark, traced=False)
        res = closed_loop(rec, self.ops, 0, self._op(rec), count=self.warmup_ops)
        self.log += res
        self.next_op = len(res)
        return [r["s"] for r in res]

    def run(self, rec, seconds: float) -> dict:
        self.meter = WriteMeter(self.roots)
        jobs = JobCounter(self.spark)
        results = closed_loop(rec, self.ops, self.next_op, self._op(rec),
                              seconds=seconds, cycle=self.cycle_len)
        n_jobs, _stages, n_tasks = jobs.take()
        self.log += results
        self.next_op += len(results)
        self.window = [(r["kind"], r["s"]) for r in results]
        m = latency_metrics(results, self.classes)
        # Spark's per-job scheduling cost dominates small store work, so
        # the job and task counts per op are the load's structural cost
        m["jobs_per_op"] = _ratio(n_jobs, len(results))
        m["tasks_per_op"] = _ratio(n_tasks, len(results))
        return m

    def _op(self, rec):
        def run_op(i: int, op: dict) -> dict:
            res = self.run_op(rec, i, op)

            def after(res: dict) -> None:
                self.after_op(res)
                if "bytes_in" in res:
                    res["bytes_added"] = self.meter.added()[0] if self.meter else 0
                if rec.traced:
                    res["store_bytes"], res["store_files"] = tree_size(self.roots)

            res["after"] = after
            return res

        return run_op

    def after_op(self, res: dict) -> None:
        """Per-op bookkeeping outside the op's latency."""
