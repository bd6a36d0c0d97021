"""Typed store manifests: every store scan reads with the schema its
manifest (or MOR log entry) records, so store reads, probes and feeds
plan without a footer-inference Spark job, and columns an older dir
predates read as typed NULLs.

Job counts are pinned with ``count_jobs`` (tests/conftest.py): the
jobs a call runs BEFORE its result is acted on. Probes are counted in
the small-plan posture a sub-threshold store operation runs in
(``plan_scope``): there a collect is one job, where adaptive execution
adds one per shuffle stage."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from conftest import count_jobs
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_demo_spark.sources.merge_store import (
    ParquetMergeStore,
    changes_between,
    stream_change_feed,
)
from parquet_demo_spark.sources.mor_store import MergeOnReadStore
from parquet_demo_spark.tuning import plan_scope

_BASE = "k long, v long, payload string"
_EVOLVED = f"{_BASE}, ts timestamp_ntz, tags array<string>"


def _cow(tmp_path, name="cow", buckets=4):
    return ParquetMergeStore(
        str(tmp_path / name), keys=("k",), version_cols=("v",),
        num_buckets=buckets,
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _seed(spark, st, n=16):
    st.merge(
        spark.createDataFrame(
            [(i, 1, f"p{i}") for i in range(n)], _BASE
        )
    )


def _evolve(spark, st, k=0):
    """Widen the table by merging ONE key with two new columns: only
    that key's bucket dir carries them afterwards."""
    st.merge(
        spark.createDataFrame(
            [(k, 2, "evolved", dt.datetime(2024, 1, 2, 3, 4, 5), ["a"])],
            _EVOLVED,
        ),
        allow_schema_evolution=True,
    )


def _buckets(spark, st, keys):
    """{k: bucket id} for bigint keys (hash is type-sensitive)."""
    return {
        r.k: r.b
        for r in spark.createDataFrame([(k,) for k in keys], "k long")
        .select("k", st._bucket_expr().alias("b"))
        .collect()
    }


def _old_bucket_key(spark, st, evolved_k=0, n=16):
    """A key whose bucket dir predates the evolution."""
    b = _buckets(spark, st, range(n))
    return next(k for k in range(n) if b[k] != b[evolved_k])


# -- job-count pins ----------------------------------------------------------


@pytest.mark.parametrize("evolved", [False, True])
def test_cow_read_and_probe_run_no_inference_job(spark, tmp_path, evolved):
    st = _cow(tmp_path)
    _seed(spark, st)
    if evolved:
        _evolve(spark, st)
    st.delete_keys(
        spark.createDataFrame([Row(k=3)]), deletion_vectors=True
    )
    with count_jobs(spark) as c:
        df = st.read(spark)
    assert c.jobs == 0
    assert len(df.collect()) == 15
    keys = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=3)])
    with plan_scope(spark, 0), count_jobs(spark) as c:
        df = st.probe(spark, keys)
    assert c.jobs == 1  # the probe keys' bucket collect, nothing else
    assert sorted(r.k for r in df.collect()) == [1, 2]
    buckets = sorted(set(_buckets(spark, st, (1, 2, 3)).values()))
    with count_jobs(spark) as c:
        df = st.probe(spark, keys, buckets=buckets)
    assert c.jobs == 0
    assert sorted(r.k for r in df.collect()) == [1, 2]


@pytest.mark.parametrize("evolved", [False, True])
def test_mor_read_with_live_deltas_runs_no_job(spark, tmp_path, evolved):
    st = MergeOnReadStore(
        str(tmp_path / "mor"), keys=("k",), version_cols=("v",),
        num_buckets=4,
    )
    _seed(spark, st)
    if evolved:
        # bootstrap merge with live log empty: evolves the base
        _evolve(spark, st)
    schema = _EVOLVED if evolved else _BASE
    extra = (None, None) if evolved else ()
    for i in range(3):
        st.commit_delta(
            spark.createDataFrame([(100 + i, 3, "d", *extra)], schema)
        )
    assert st.delta_count() == 3
    with count_jobs(spark) as c:
        df = st.read(spark)
    assert c.jobs == 0
    assert len(df.collect()) == 19
    keys = spark.createDataFrame([Row(k=101)])
    with plan_scope(spark, 0), count_jobs(spark) as c:
        df = st.probe(spark, keys)
    assert c.jobs == 1  # the base probe's bucket collect
    assert [r.k for r in df.collect()] == [101]


def test_index_applier_epoch_job_count(spark, tmp_path):
    """One warm index_batch_applier epoch on a sub-threshold MOR store
    runs at most the 13 jobs the job census reports for the applier
    call of an index_maintain search op (``scripts/job_census.py
    --workload index_maintain --seed 601``: 14 jobs per op, one of
    them the workload's own read of its epoch file)."""
    from parquet_demo_spark.operators.search import index_batch_applier

    st = MergeOnReadStore(
        str(tmp_path / "idx"), keys=("term", "doc_id"),
        version_cols=("edit_ts",), num_buckets=8,
    )
    apply = index_batch_applier(spark, st)

    def _epoch(rows, e):
        # a parquet epoch, as a file-source stream hands the applier:
        # its size is known, so the applier plans sub-threshold
        path = str(tmp_path / f"epoch{e}")
        spark.createDataFrame(rows).write.parquet(path)
        return spark.read.parquet(path)

    for e in range(2):
        apply(
            _epoch(
                [Row(doc_id=d, text=f"alpha t{d} e{e}", edit_ts=e + 1)
                 for d in range(6)],
                e,
            ),
            e,
        )
    batch = _epoch(
        [Row(doc_id=d, text=f"beta t{d}", edit_ts=9) for d in range(3)]
        + [Row(doc_id=4, text="", edit_ts=9)],
        2,
    )
    with count_jobs(spark) as c:
        apply(batch, 2)
    assert c.jobs <= 13
    got = {(r.term, r.doc_id) for r in st.read(spark).collect()}
    assert ("beta", 1) in got and ("alpha", 1) not in got
    assert not any(d == 4 for _, d in got)


# -- manifests written before the type map ----------------------------------


def _strip_types(st):
    """Remove the recorded type map from every manifest, as a store
    written before the map existed has none."""
    for d in os.listdir(st.root):
        p = os.path.join(st.root, d, "manifest.json")
        if d.startswith("v") and os.path.exists(p):
            with open(p) as f:
                m = json.load(f)
            m.pop("types", None)
            with open(p, "w") as f:
                json.dump(m, f)


def test_legacy_manifest_without_types_behaves_identically(spark, tmp_path):
    fresh, legacy = _cow(tmp_path, "fresh"), _cow(tmp_path, "legacy")
    steps = [
        lambda st: _seed(spark, st),
        lambda st: st.merge(
            spark.createDataFrame(
                [(1, 5, "u1"), (20, 1, "new")], _BASE
            )
        ),
        lambda st: st.delete_keys(
            spark.createDataFrame([Row(k=2), Row(k=20)]),
            deletion_vectors=True,
        ),
        lambda st: st.merge_into(
            spark.createDataFrame([(4, 9, "m4"), (21, 1, "m21")], _BASE)
        ),
    ]
    keys = spark.createDataFrame([Row(k=k) for k in (1, 2, 4, 20, 21)])
    for step in steps:
        step(fresh)
        step(legacy)
        _strip_types(legacy)
        v = legacy.current_version()
        assert "types" not in legacy._read_manifest(v)
        assert legacy.column_types(v) == fresh.column_types(v)
        with count_jobs(spark) as c:
            df = legacy.read(spark)
        assert c.jobs == 0
        assert _rows(df) == _rows(fresh.read(spark))
        assert _rows(legacy.probe(spark, keys)) == _rows(
            fresh.probe(spark, keys)
        )
    # the next commit on a legacy store records the map again
    legacy.merge(spark.createDataFrame([(30, 1, "x")], _BASE))
    m = legacy._read_manifest(legacy.current_version())
    assert m["types"] == {"k": "bigint", "v": "bigint", "payload": "string"}


# -- schema evolution: typed nulls from pre-evolution dirs ------------------


def test_pre_evolution_dirs_read_typed_nulls(spark, tmp_path):
    st = _cow(tmp_path)
    _seed(spark, st)
    _evolve(spark, st)
    v1 = st.current_version()
    old_k = _old_bucket_key(spark, st)
    want = {
        "ts": T.TimestampNTZType(),
        "tags": T.ArrayType(T.StringType()),
    }

    def _typed_nulls(df, n):
        for c, t in want.items():
            assert df.schema[c].dataType == t
        rows = df.collect()
        assert len(rows) == n
        assert all(r.ts is None and r.tags is None for r in rows)

    # pruned read: the k-range stats keep only the old key's bucket
    pruned = st.read(spark, where={"k": (old_k, old_k)})
    assert st.files_read(where={"k": (old_k, old_k)}) < st.files_read()
    _typed_nulls(pruned, 1)
    # probe of an old bucket only
    _typed_nulls(
        st.probe(spark, spark.createDataFrame([Row(k=old_k)])), 1
    )
    # changes_between over an old bucket only: the DV delete touches
    # no data dir, so both sides read the pre-evolution dir
    st.delete_keys(
        spark.createDataFrame([Row(k=old_k)]), deletion_vectors=True
    )
    feed = changes_between(st, spark, v1, st.current_version())
    _typed_nulls(feed, 1)
    assert feed.first()["_change_type"] == "delete"
    # the evolved key keeps its values
    row = st.probe(spark, spark.createDataFrame([Row(k=0)])).first()
    assert row.ts == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert row.tags == ["a"]


def test_stream_change_feed_keeps_evolved_columns(spark, tmp_path):
    """The stream's static schema is the head's recorded schema: a
    column added by an evolving merge after the first stored feed is
    streamed, not dropped."""
    st = _cow(tmp_path)
    st.merge(
        spark.createDataFrame([Row(k=1, v=1, p="a")]),
        write_change_feed=True,
    )
    st.merge(
        spark.createDataFrame([Row(k=2, v=1, p="b", extra=7)]),
        allow_schema_evolution=True,
        write_change_feed=True,
    )
    assert "extra" in st.change_feed(spark, 1).columns
    out = str(tmp_path / "sink")
    q = (
        stream_change_feed(spark, st)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.k, r.v, r.p, r.extra, r._change_type)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, 1, "a", None, "insert"), (2, 1, "b", 7, "insert")]
