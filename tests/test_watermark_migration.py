"""The index appliers' one-time watermark migration and their empty
first batch.

An index built before the admission-watermark side store existed (a
batch build: index rows, no ``<root>_wm``) is migrated by its first
streamed epoch: ``wm.current_version() is None and store.has_data()``
seeds the watermarks from the index's own rows, and that epoch's
admission probe then runs against the seeded store — so a late stale
edit in the same epoch is already rejected, while an emptying edit
applies. An all-tombstone first batch into an empty store commits no
index version (a zero-bucket v0 would have no data to read), yet its
watermarks are recorded."""

from __future__ import annotations

import shutil

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_demo_spark.sources.merge_store import (
    ParquetMergeStore,
    admission_watermarks,
)
from parquet_demo_spark.sources.mor_store import MergeOnReadStore

_DOCS = [
    Row(doc_id=1, text="alpha beta gamma delta epsilon zeta " * 3, edit_ts=5),
    Row(doc_id=2, text="eta theta iota kappa lambda mu " * 3, edit_ts=5),
    Row(doc_id=3, text="nu xi omicron pi rho sigma " * 3, edit_ts=5),
]
# one epoch: a LATE stale edit of doc 1 (older than the indexed edit)
# and an edit emptying doc 2
_EPOCH = [
    Row(doc_id=1, text="stale words never indexed", edit_ts=4),
    Row(doc_id=2, text="", edit_ts=7),
]
_VEC = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("e", T.ArrayType(T.DoubleType())),
        T.StructField("edit_ts", T.LongType()),
        T.StructField("op", T.StringType()),
    ]
)


def _store(kind, root, keys):
    cls = MergeOnReadStore if kind == "mor" else ParquetMergeStore
    return cls(root, keys=keys, version_cols=("edit_ts",), num_buckets=4)


def _batch_built(spark, apply, store, rows):
    """An index built without watermarks: the applier's own encoding of
    ``rows`` committed to the index, the side store removed."""
    apply(spark.createDataFrame(rows), 0)
    shutil.rmtree(store.root.rstrip("/") + "_wm")
    wm = admission_watermarks(store, keys=("doc_id",))
    assert wm.current_version() is None and store.has_data()


def _wm(spark, store, key="doc_id"):
    wm = admission_watermarks(store, keys=(key,))
    return {r[key]: r.edit_ts for r in wm.read(spark).collect()}


def test_search_applier_migrates_batch_built_index(spark, tmp_path):
    from parquet_demo_spark.operators.search import index_batch_applier

    store = _store("mor", str(tmp_path / "idx"), ("term", "doc_id"))
    apply = index_batch_applier(spark, store)
    _batch_built(spark, apply, store, _DOCS)
    before = {(r.term, r.doc_id, r.tf) for r in store.read(spark).collect()}
    apply(spark.createDataFrame(_EPOCH), 1)
    after = {(r.term, r.doc_id, r.tf) for r in store.read(spark).collect()}
    # seeded from the index, then the emptying edit's watermark applied
    assert _wm(spark, store) == {1: 5, 2: 7, 3: 5}
    # the stale edit was rejected: doc 1 keeps its indexed postings
    assert {p for p in after if p[1] == 1} == {p for p in before if p[1] == 1}
    assert "stale" not in {t for t, _, _ in after}
    assert not any(d == 2 for _, d, _ in after)
    assert {p for p in after if p[1] == 3} == {p for p in before if p[1] == 3}


def test_dedup_applier_migrates_batch_built_index(spark, tmp_path):
    from parquet_demo_spark.operators.dedup import dedup_index_batch_applier

    store = _store("cow", str(tmp_path / "bands"), ("band", "doc_id"))
    apply = dedup_index_batch_applier(spark, store)
    _batch_built(spark, apply, store, _DOCS)
    before = {(r.band, r.doc_id, r.sig) for r in store.read(spark).collect()}
    apply(spark.createDataFrame(_EPOCH), 1)
    after = {(r.band, r.doc_id, r.sig) for r in store.read(spark).collect()}
    assert _wm(spark, store) == {1: 5, 2: 7, 3: 5}
    assert {b for b in after if b[1] == 1} == {b for b in before if b[1] == 1}
    assert not any(d == 2 for _, d, _ in after)
    assert {b for b in after if b[1] == 3} == {b for b in before if b[1] == 3}


def _codebooks(spark):
    from parquet_demo_spark.operators.similarity import (
        _km_assign,
        _km_update,
        _pq_encode,
    )

    vecs = spark.createDataFrame(
        [
            Row(vec_id=i, e=[float(i % 3), float(i % 5), 1.0, 0.5])
            for i in range(8)
        ]
    )
    icent0 = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    ia = _km_assign(
        vecs.select("vec_id", F.col("e").alias("embedding")), icent0
    )
    icent1 = _km_update(ia.select("cid", "embedding")).localCheckpoint()
    probes = vecs.limit(0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    _, _, pcent1 = _pq_encode(vecs, vecs, probes, pin=False)
    return icent1, pcent1.localCheckpoint()


def test_ann_applier_migrates_batch_built_index(spark, tmp_path):
    from parquet_demo_spark.operators.similarity import (
        ann_index_batch_applier,
    )

    store = _store("mor", str(tmp_path / "codes"), ("vec_id",))
    apply = ann_index_batch_applier(spark, store, *_codebooks(spark))
    apply(
        spark.createDataFrame(
            [(i, [float(i), 1.0, 0.0, 2.0], 5, "upsert") for i in (1, 2, 3)],
            _VEC,
        ),
        0,
    )
    shutil.rmtree(store.root.rstrip("/") + "_wm")
    before = {
        (r.vec_id, r.cid, tuple(r.codes)) for r in store.read(spark).collect()
    }
    # a late stale upsert of vector 1 and a delete emptying vector 2
    apply(
        spark.createDataFrame(
            [(1, [9.0, 9.0, 9.0, 9.0], 4, "upsert"), (2, None, 7, "delete")],
            _VEC,
        ),
        1,
    )
    after = {
        (r.vec_id, r.cid, tuple(r.codes)) for r in store.read(spark).collect()
    }
    assert _wm(spark, store, "vec_id") == {1: 5, 2: 7, 3: 5}
    assert after == {c for c in before if c[0] != 2}


def test_all_tombstone_first_batch_commits_no_index_version(spark, tmp_path):
    """Every applier's first batch may encode to nothing (docs edited
    to empty, vector deletes): the index stays uncommitted, the
    watermarks record the edits, and a later LATE stale edit is
    rejected while a newer one indexes normally."""
    from parquet_demo_spark.operators.dedup import dedup_index_batch_applier
    from parquet_demo_spark.operators.search import index_batch_applier
    from parquet_demo_spark.operators.similarity import (
        ann_index_batch_applier,
    )

    empty_docs = [Row(doc_id=1, text="", edit_ts=5), Row(doc_id=2, text="", edit_ts=5)]
    later_docs = [
        Row(doc_id=1, text="alpha beta gamma delta " * 3, edit_ts=4),
        Row(doc_id=2, text="eta theta iota kappa " * 3, edit_ts=6),
    ]
    cases = [
        ("text", index_batch_applier, ("term", "doc_id"), "doc_id",
         empty_docs, later_docs),
        ("bands", dedup_index_batch_applier, ("band", "doc_id"), "doc_id",
         empty_docs, later_docs),
    ]
    for name, make, keys, key, first, later in cases:
        for kind in ("cow", "mor"):
            store = _store(kind, str(tmp_path / f"{name}_{kind}"), keys)
            apply = make(spark, store)
            apply(spark.createDataFrame(first), 0)
            assert not store.has_data()
            assert store.current_version() is None
            assert _wm(spark, store, key) == {1: 5, 2: 5}
            apply(spark.createDataFrame(later), 1)
            assert {r[key] for r in store.read(spark).collect()} == {2}
            assert _wm(spark, store, key) == {1: 5, 2: 6}
    icent1, pcent1 = _codebooks(spark)
    for kind in ("cow", "mor"):
        store = _store(kind, str(tmp_path / f"codes_{kind}"), ("vec_id",))
        apply = ann_index_batch_applier(spark, store, icent1, pcent1)
        apply(
            spark.createDataFrame(
                [(1, None, 5, "delete"), (2, None, 5, "delete")], _VEC
            ),
            0,
        )
        assert not store.has_data()
        assert store.current_version() is None
        assert _wm(spark, store, "vec_id") == {1: 5, 2: 5}
        apply(
            spark.createDataFrame(
                [(1, [1.0, 1.0, 1.0, 1.0], 4, "upsert"),
                 (2, [2.0, 1.0, 0.0, 1.0], 6, "upsert")],
                _VEC,
            ),
            1,
        )
        assert {r.vec_id for r in store.read(spark).collect()} == {2}
