"""index_maintain: a document and vector edit stream applied epoch by
epoch through the three index appliers, each into its own MOR store."""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.counters import tree_size
from perfbench.loop import Workload
from perfbench.reference import IndexModel

SHAPE = gen.IndexShape(
    docs=600,
    epoch_docs=60,
    epoch_vecs=40,
    late_share=0.1,
    empty_share=0.05,
    delete_share=0.1,
    warmup=("search", "dedup", "ann"),
    cycle=("search", "dedup", "ann", "read", "compact"),
)
CLASSES = {"commit": ("search", "dedup", "ann", "compact"), "read": ("read",)}
APPLIERS = {
    "search": ("operators.search", "index_batch_applier"),
    "dedup": ("operators.dedup", "dedup_index_batch_applier"),
    "ann": ("operators.similarity", "ann_index_batch_applier"),
}
_KEYS = {"search": ("term", "doc_id"), "dedup": ("band", "doc_id"), "ann": ("vec_id",)}


class IndexWorkload(Workload):
    name = "index_maintain"
    classes = CLASSES
    calls = (
        *(f"{layer}.{fn}" for layer, fn in APPLIERS.values()),
        "sources.mor_store.read",
        "sources.mor_store.compact",
    )

    def setup(self, spark, seed: int, work: str) -> dict:
        from pyspark.sql import functions as F

        from parquet_demo_spark.operators.dedup import dedup_index_batch_applier
        from parquet_demo_spark.operators.search import index_batch_applier
        from parquet_demo_spark.operators.similarity import ann_index_batch_applier
        from parquet_demo_spark.sources.mor_store import MergeOnReadStore
        from parquet_demo_spark.tuning import small_plan_threshold

        self.spark, self.F, self.work = spark, F, work
        self.plan = gen.index_inputs(seed, SHAPE, os.path.join(work, "inputs"))
        # the frozen ANN structures the vector applier encodes against
        icent, pcent = gen.ann_codebooks(seed)
        icent1 = spark.createDataFrame(icent, "cid long, c array<double>")
        pcent1 = spark.createDataFrame(pcent, "m int, cid long, c array<double>")
        self.stores, self.apply = {}, {}
        for name in APPLIERS:
            store = MergeOnReadStore(
                os.path.join(work, name), keys=_KEYS[name], version_cols=("edit_ts",), num_buckets=8
            )
            self.stores[name] = store
        self.apply["search"] = index_batch_applier(spark, self.stores["search"])
        self.apply["dedup"] = dedup_index_batch_applier(spark, self.stores["dedup"])
        self.apply["ann"] = ann_index_batch_applier(spark, self.stores["ann"], icent1, pcent1)
        self.roots = [p for s in self.stores.values() for p in (s.root, s.root + "_wm")]
        self.epochs = dict.fromkeys(APPLIERS, 0)
        self.ops = self.plan.ops
        self.warmup_ops, self.cycle_len = len(SHAPE.warmup), len(SHAPE.cycle)
        props = dict(self.plan.props)
        props["small_plan_threshold_bytes"] = small_plan_threshold()
        return props

    def run_op(self, rec, i: int, op: dict) -> dict:
        spark, F = self.spark, self.F
        kind = op["kind"]
        if kind in self.apply:
            e = op["epoch"]
            layer, fn = APPLIERS[kind]
            path = (self.plan.vecs if kind == "ann" else self.plan.docs)[e]
            root = self.stores[kind].root
            batch = spark.read.parquet(path)
            with rec.call(layer, fn, roots={"": root, "wm_": root + "_wm"}):
                self.apply[kind](batch, e)
            self.epochs[kind] = e + 1
            return {"rows_in": gen.parquet_rows(path), "bytes_in": self.plan.epoch_bytes[e][kind == "ann"]}
        if kind == "read":
            with rec.call("sources.mor_store", "read", "plan"):
                df = self.stores["search"].read(spark).filter(F.col("term").isin(*op["terms"]))
            with rec.call("sources.mor_store", "read", "exec"):
                row = tuple(
                    df.agg(
                        F.count("*"),
                        F.coalesce(F.sum("tf"), F.lit(0)),
                        F.coalesce(F.sum(F.col("doc_id") * F.col("tf")), F.lit(0)),
                    ).first()
                )
            return {"epochs": self.epochs["search"], "row": row}
        if kind == "compact":
            store = self.stores[op["store"]]
            with rec.call("sources.mor_store", "compact", roots={"": store.root}):
                store.compact(spark)
            return {"bytes_in": 0}
        raise ValueError(kind)

    def check(self) -> tuple[int, int, dict]:
        """Every read against the reference at its epoch, then the final
        state of all three indexes."""
        n = max(self.epochs.values())
        model = IndexModel(self.plan.docs[:n], self.plan.vecs[:n])
        wrong, first_bad = 0, None
        for r in self.log:
            if "error" in r or r["kind"] != "read":
                continue
            terms = self.plan.ops[r["i"]]["terms"]
            if r["row"] != model.search_checksum(r["epochs"], terms):
                wrong += 1
                first_bad = first_bad or {"i": r["i"], "kind": "read"}
        # each index's resolved snapshot, fetched once: compared with the
        # reference, then written once as parquet for space_amp
        import pyarrow.parquet as pq

        live = os.path.join(self.work, "live")
        os.makedirs(live)
        snap, live_bytes = {}, 0
        for name, store in self.stores.items():
            table = store.read(self.spark).toArrow()
            pq.write_table(table, os.path.join(live, f"{name}.parquet"))
            live_bytes += os.path.getsize(os.path.join(live, f"{name}.parquet"))
            snap[name] = table.to_pylist()
        # sorted by repr: a wrong result may hold NULLs, which do not order
        search = sorted(((r["term"], r["doc_id"], r["tf"]) for r in snap["search"]), key=repr)
        per_doc: dict[int, int] = {}
        for r in snap["dedup"]:
            per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
        ann = sorted(
            ((r["vec_id"], r["edit_ts"], r["e"] and round(sum(r["e"]), 6)) for r in snap["ann"]),
            key=repr,
        )
        ann_ref = sorted(model.ann_final(self.epochs["ann"]), key=repr)
        finals = {
            "search": search == sorted(model.search_final(self.epochs["search"]), key=repr),
            "dedup": sorted(per_doc) == model.dedup_docs(self.epochs["dedup"])
            and len(set(per_doc.values())) == 1,
            "ann": [a[:2] for a in ann] == [a[:2] for a in ann_ref]
            and all(a[2] is not None and abs(a[2] - b[2]) < 1e-6 for a, b in zip(ann, ann_ref)),
        }
        wrong += sum(not ok for ok in finals.values())
        store_bytes, store_files = tree_size(self.roots)
        model.close()
        from parquet_demo_spark.tuning import small_plan_threshold

        return len(self.log) + len(finals), wrong, {
            "space_amp": store_bytes / live_bytes,
            "store_bytes_end": store_bytes,
            "store_files_end": store_files,
            "store_over_threshold_end": max(
                tree_size([s.root, s.root + "_wm"])[0] for s in self.stores.values()
            ) / small_plan_threshold(),
            "final_index_ok": finals,
            "first_wrong_op": first_bad,
        }
