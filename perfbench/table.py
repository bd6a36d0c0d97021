"""table_serve and table_ingest: a date-partitioned table under a
read/write op mix, with copy-on-write (COW) or merge-on-read (MOR)
children. table_serve also runs the ``etl.EtlOps`` (module queries, io
round trip, layout rewrite) in its cycle."""

from __future__ import annotations

import os

from perfbench import etl, gen
from perfbench.counters import tree_size
from perfbench.loop import Workload
from perfbench.reference import CHECKSUM_SQL, TableModel

LAYER = "sources.partitioned_store"

# read-heavy: PK probes, scoped reads and change feeds, with small
# upserts, deletion-vector deletes and a compaction beside them; then
# the module queries, the io round trip and a layout rewrite
SERVE = gen.TableShape(
    rows=96_000,
    parts=4,
    merge_rows=200,
    merge_days=2,
    insert_share=0.25,
    probe_keys=50,
    zipf_a=1.3,
    recent_bias=1.6,
    delete_mod=499,
    warmup=("merge", "probe"),
    cycle=("probe", "read", "merge", "probe", "cdc", "read", "delete", "compact") + etl.CYCLE,
)

# write-heavy: multi-partition backfills, tombstone deletes and a
# compaction every cycle, with change-feed refreshes and probes beside
INGEST = gen.TableShape(
    rows=96_000,
    parts=4,
    merge_rows=2_000,
    merge_days=4,
    insert_share=0.4,
    probe_keys=50,
    zipf_a=1.3,
    recent_bias=1.3,
    delete_mod=499,
    warmup=("merge", "probe"),
    cycle=("merge", "probe", "merge", "cdc", "delete", "merge", "compact"),
)

COMMIT_KINDS = ("merge", "delete", "compact")
CLASSES = {
    "commit": COMMIT_KINDS,
    "read": ("read",),
    "probe": ("probe",),
    "cdc": ("cdc",),
    "query": ("query",),
    "io": ("io_write", "io_read"),
}


# the store call each op kind makes
STORE_CALLS = {
    "probe": "probe", "read": "read", "cdc": "changes_between",
    "merge": "merge", "delete": "delete_where", "compact": "compact",
}


class TableWorkload(Workload):
    classes = CLASSES

    def __init__(self, name: str, child_store: str):
        self.name = name
        self.child_store = child_store
        self.shape = SERVE if child_store == "cow" else INGEST
        self.etl = None
        self.calls = tuple(sorted({f"{LAYER}.{STORE_CALLS[k]}" for k in self.shape.cycle if k in STORE_CALLS}))

    # -- setup -------------------------------------------------------------

    def setup(self, spark, seed: int, work: str) -> dict:
        from pyspark.sql import functions as F

        from parquet_demo_spark.sources.partitioned_store import (
            PartitionedParquetMergeStore,
        )
        from parquet_demo_spark.tuning import small_plan_threshold

        self.F = F
        self.spark = spark
        self.work = work
        if set(etl.EtlOps.kinds) & set(self.shape.cycle):
            self.etl = etl.EtlOps(spark, seed, work)
            self.calls += self.etl.calls
        self.plan = gen.table_inputs(
            seed, self.shape, os.path.join(work, "inputs"), other=self.etl and self.etl.make
        )
        self.root = os.path.join(work, "table")
        self.store = PartitionedParquetMergeStore(
            self.root,
            keys=("day", "id"),
            partition_col="day",
            version_cols=("ts",),
            bloom_cols=("id",) if self.child_store == "cow" else (),
            child_store=self.child_store,
        )
        self.store.merge(spark.read.parquet(self.plan.base))
        self.model = TableModel(self.plan.base)
        self.ops, self.roots = self.plan.ops, [self.root]
        self.warmup_ops, self.cycle_len = len(self.shape.warmup), len(self.shape.cycle)
        props = dict(self.plan.props)
        if self.etl:
            self.roots += self.etl.roots
            props.update(self.etl.props)
        store_bytes, _ = tree_size([self.root])
        props["child_store"] = self.child_store
        props["store_bytes_after_build"] = store_bytes
        props["small_plan_threshold_bytes"] = small_plan_threshold()
        props["store_over_threshold"] = store_bytes / small_plan_threshold()
        return props

    # -- ops ---------------------------------------------------------------

    def run_op(self, rec, i: int, op: dict) -> dict:
        spark, store, F = self.spark, self.store, self.F
        kind = op["kind"]
        roots = {"": self.root}
        if self.etl and kind in self.etl.kinds:
            return self.etl.run_op(rec, op)
        if kind == "probe":
            keys = spark.createDataFrame(op["keys"], "day string, id long")
            with rec.call(LAYER, "probe", "plan") as sp:
                df = store.probe(spark, keys)
            with rec.call(LAYER, "probe", "exec"):
                rows = [tuple(r) for r in df.select(*gen.TABLE_COLUMNS).collect()]
            sp["hit_ratio"] = len(rows) / len(op["keys"])
            return {"rows": rows}
        if kind == "read":
            with rec.call(LAYER, "read", "plan") as sp:
                df = store.read(spark, partitions=op["days"])
            with rec.call(LAYER, "read", "exec"):
                row = tuple(df.selectExpr(*CHECKSUM_SQL.split(", ")).first())
            if rec.traced:
                sp["files_read"] = store.files_read(partitions=op["days"])
            return {"row": row}
        if kind == "cdc":
            v = store.current_version()
            v_from = max(0, v - op["back"])
            with rec.call(LAYER, "changes_between", "plan"):
                df = store.changes_between(spark, v_from, v)
            with rec.call(LAYER, "changes_between", "exec"):
                rows = [
                    tuple(r)
                    for r in df.select(
                        "day", "id", "_change_type",
                        F.when(F.col("_change_type") != "delete", F.col("ts")),
                    ).collect()
                ]
            return {"span": (v_from, v), "rows": rows}
        if kind == "merge":
            path = self.plan.batches[op["batch"]]
            with rec.call(LAYER, "merge", roots=roots):
                store.merge(spark.read.parquet(path))
            return {"rows_in": gen.parquet_rows(path), "bytes_in": self.plan.batch_bytes[op["batch"]]}
        if kind == "delete":
            cond = (F.col("id") % op["mod"]) == op["rem"]
            with rec.call(LAYER, "delete_where", roots=roots):
                store.delete_where(
                    spark, cond, partitions=op["days"],
                    deletion_vectors=self.child_store == "cow",
                )
            return {"bytes_in": 0}
        if kind == "compact":
            with rec.call(LAYER, "compact", roots=roots):
                store.compact(spark)
            return {"bytes_in": 0}
        raise ValueError(kind)

    def after_op(self, res: dict) -> None:
        res["version"] = self.store.current_version()

    # -- checks ------------------------------------------------------------

    def check(self) -> tuple[int, int, dict]:
        """Replay the writes in the reference and compare every read.
        Returns (ops checked, ops wrong, end-state figures)."""
        model, wrong, first_bad = self.model, 0, None
        for r in self.log:
            if "error" in r:
                continue
            kind, v = r["kind"], r["version"]
            ok = True
            if kind == "merge":
                ok = v != model.versions[-1]  # every merge commits a version
                if ok:
                    model.merge(v, self.plan.batches[self.plan.ops[r["i"]]["batch"]])
            elif kind == "delete":
                op = self.plan.ops[r["i"]]
                scope = (*op["days"], op["mod"], op["rem"])
                if v != model.versions[-1]:
                    model.delete(v, *scope)
                else:  # no version: nothing may have matched
                    ok = model.matching(*scope) == 0
            elif kind == "compact":
                if v != model.versions[-1]:
                    model.same(v)
            elif kind == "probe":
                got = sorted(r["rows"], key=repr)
                ok = got == sorted(model.probe(v, self.plan.ops[r["i"]]["keys"]), key=repr)
            elif kind == "read":
                ok = r["row"] == model.read(v, *self.plan.ops[r["i"]]["days"])
            elif kind == "cdc":
                got = sorted(r["rows"], key=repr)
                ok = got == sorted(model.changes(*r["span"]), key=repr)
            if not ok:
                wrong += 1
                first_bad = first_bad or {"i": r["i"], "kind": kind, "version": v}
        live = model.live_parquet_bytes(os.path.join(self.work, "live.parquet"))
        model.close()
        etl_bad = []
        if self.etl:
            etl_wrong, etl_bad, etl_live = self.etl.check(self.log)
            wrong += etl_wrong
            live += etl_live
        store_bytes, store_files = tree_size(self.roots)
        return len(self.log), wrong, {
            "space_amp": store_bytes / live,
            "store_bytes_end": store_bytes,
            "store_files_end": store_files,
            "first_wrong_op": first_bad,
            "etl_wrong": etl_bad,
        }
