"""Outside-in counters around the public calls the benchmark makes.

Every call is wrapped in a span named ``<layer>.<function>``: the layer
is the module that owns the call (``sources.partitioned_store``,
``operators.search``, ``io`` ...). A traced span records

- Spark jobs, stages and tasks, as job-id deltas read from the status
  tracker. Job ids are global and sequential, and the load comes from
  one client thread, so every job between two reads belongs to the call
  in between, including the jobs of the store's own pool threads;
- bytes and files added under the store roots the call writes;
- the store's ``files_read()`` for the scope of a read.

A read is split in two spans: the call itself (``plan``) and the action
that materializes its result (``exec``). Spans nest under the op span
that issued them, so each layer's self time is its span time minus the
time of the spans nested in it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


_COUNTS = ("jobs", "stages", "tasks", "files_read", "hit_ratio")


class JobCounter:
    """Spark job, stage and task deltas by job id."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._st = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        self._seen_stages: set[int] = set()
        # start after every job that ran before (older job records may
        # already be evicted from the status store, so scan from the
        # newest one it lists)
        self._drain()
        self._next = max(self._st.getJobIdsForGroup(None) or [-1]) + 1
        self.take()

    def _drain(self) -> None:
        # job and stage records reach the status store through the
        # listener bus; drain it so the last job of a call is not
        # attributed to the next one
        self._bus.waitUntilEmpty(60_000)

    def take(self) -> tuple[int, int, int]:
        """``(jobs, stages, tasks)`` run since the previous take."""
        self._drain()
        end = self._next
        while self._st.getJobInfo(end) is not None:
            end += 1
        stages = tasks = 0
        for job in range(self._next, end):
            for sid in self._st.getJobInfo(job).stageIds:
                if sid in self._seen_stages:
                    continue  # a stage reused by a later job is skipped
                info = self._st.getStageInfo(sid)
                if info is None or info.numCompletedTasks == 0:
                    continue
                self._seen_stages.add(sid)
                stages += 1
                tasks += info.numCompletedTasks
        jobs = end - self._next
        self._next = end
        return jobs, stages, tasks


def tree_files(root: str) -> dict[str, int]:
    """Every regular file under ``root`` with its size."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out


def tree_size(roots) -> tuple[int, int]:
    """``(bytes, files)`` on disk under ``roots``."""
    b = n = 0
    for r in roots:
        files = tree_files(r)
        b += sum(files.values())
        n += len(files)
    return b, n


class WriteMeter:
    """Bytes and files added under a set of roots, from the filesystem.

    A file counts once, when it is first seen; files a later call
    deletes (a truncated delta log) still count as written."""

    def __init__(self, roots):
        self.roots = list(roots)
        self._seen: dict[str, int] = {}
        for r in self.roots:
            self._seen.update(tree_files(r))

    def added(self) -> tuple[int, int]:
        """``(bytes, files)`` first seen since the previous call."""
        b = n = 0
        for r in self.roots:
            for p, size in tree_files(r).items():
                if p not in self._seen:
                    self._seen[p] = size
                    b += size
                    n += 1
        return b, n


class Recorder:
    """Op latencies (always) and call spans (traced runs only)."""

    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.jobs = JobCounter(spark) if traced else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()
        self._op_id = None
        # seconds the recorder spends on its own counting and file walks
        # inside the ops: the tracing overhead
        self.overhead_s = 0.0

    def _open(self, name: str, layer: str, kind: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "kind": kind,
            "op_id": self._op_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    @contextmanager
    def op(self, op_id: int, kind: str):
        """One closed-loop operation; yields a dict whose ``s`` is the
        op's latency once the block exits."""
        rec: dict = {}
        self._op_id = op_id
        span = self._open(f"bench.op.{kind}", "bench", "op") if self.traced else None
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["s"] = end - start
            if span is not None:
                span["start"] = start - self._t0
                span["end"] = end - self._t0
                self._stack.pop()
            self._op_id = None

    @contextmanager
    def call(self, layer: str, fn: str, kind: str = "busy", roots=None):
        """A public call into ``layer``. ``roots`` maps a metric prefix
        to a directory whose added bytes and files the span records
        (``{"": store.root, "wm_": watermark_root}``). Yields the span
        dict (traced) or a scratch dict (untraced) for extra fields."""
        if not self.traced:
            yield {}
            return
        t = time.perf_counter()
        name = f"{layer}.{fn}" + (".exec" if kind == "exec" else "")
        before = {p: tree_files(r) for p, r in (roots or {}).items()}
        self.jobs.take()
        span = self._open(name, layer, kind)
        span["start"] = time.perf_counter() - self._t0
        self.overhead_s += time.perf_counter() - t
        try:
            yield span
        finally:
            t = time.perf_counter()
            span["end"] = t - self._t0
            self._stack.pop()
            span["jobs"], span["stages"], span["tasks"] = self.jobs.take()
            for prefix, r in (roots or {}).items():
                now = tree_files(r)
                new = [p for p in now if p not in before[prefix]]
                span[prefix + "bytes_written"] = sum(now[p] for p in new)
                span[prefix + "files_written"] = len(new)
            self.overhead_s += time.perf_counter() - t

    # -- summaries ------------------------------------------------------

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, minus the time of spans nested inside."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def call_metrics(self) -> dict[str, float]:
        """Per public call: median ``plan_s``/``exec_s``/``busy_s`` and
        per-op means of the counts (a read's plan and exec spans sum)."""
        times: dict[str, dict[str, list[float]]] = {}
        per_op: dict[str, dict] = {}
        for s in self.spans:
            if s["kind"] == "op":
                continue
            call = s["name"].removesuffix(".exec")
            times.setdefault(call, {}).setdefault(s["kind"], []).append(
                s["end"] - s["start"]
            )
            counts = per_op.setdefault(call, {}).setdefault(s["op_id"], {})
            for k, v in s.items():
                if k in _COUNTS or k.endswith(("bytes_written", "files_written")):
                    counts[k] = counts.get(k, 0) + v
        out: dict[str, float] = {}
        for call, kinds in times.items():
            for kind, ts in kinds.items():
                out[f"{call}.{kind}_s"] = statistics.median(ts)
            ops = list(per_op[call].values())
            for k in {k for c in ops for k in c}:
                out[f"{call}.{k}"] = statistics.fmean(c.get(k, 0) for c in ops)
        return out
