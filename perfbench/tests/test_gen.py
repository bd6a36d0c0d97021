import filecmp
import os

from perfbench import etl, gen
from perfbench.index import SHAPE as INDEX_SHAPE
from perfbench.table import SERVE

SMALL = gen.TableShape(
    rows=800, parts=4, merge_rows=40, merge_days=2, insert_share=0.25,
    probe_keys=20, zipf_a=1.3, recent_bias=1.6, delete_mod=7,
    warmup=("merge", "probe"), cycle=tuple(k for k in SERVE.cycle if k not in etl.EtlOps.kinds),
)


def _same_files(a: list[str], b: list[str]) -> bool:
    return all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_table_inputs_are_a_function_of_the_seed(tmp_path):
    a = gen.table_inputs(5, SMALL, str(tmp_path / "a"))
    b = gen.table_inputs(5, SMALL, str(tmp_path / "b"))
    c = gen.table_inputs(6, SMALL, str(tmp_path / "c"))
    assert a.ops.head(40) == b.ops.head(40) and a.props == b.props
    assert a.ops.head(40) != c.ops.head(40)
    assert _same_files([a.base] + a.batches, [b.base] + b.batches)
    assert not filecmp.cmp(a.base, c.base, shallow=False)


def test_table_inserts_never_collide(tmp_path):
    import pyarrow.parquet as pq

    plan = gen.table_inputs(3, SMALL, str(tmp_path))
    plan.ops.head(40)
    ids = pq.read_table(plan.base).column("id").to_pylist()
    seen = set(ids)
    for path in plan.batches:
        t = pq.read_table(path)
        batch = t.column("id").to_pylist()
        assert len(batch) == len(set(batch)) == SMALL.merge_rows  # distinct keys
        days = t.column("day").to_pylist()
        assert all(d == gen.day_name(i % SMALL.parts) for i, d in zip(batch, days))
        new = [i for i in batch if i >= SMALL.rows]
        assert not seen & set(new)
        seen |= set(new)


def _index_inputs(seed, out_dir, n):
    plan = gen.index_inputs(seed, INDEX_SHAPE, out_dir)
    plan.ops.head(n)
    return plan


def test_index_inputs_are_a_function_of_the_seed(tmp_path):
    a = _index_inputs(9, str(tmp_path / "a"), 30)
    b = _index_inputs(9, str(tmp_path / "b"), 30)
    c = _index_inputs(10, str(tmp_path / "c"), 30)
    assert a.ops.made == b.ops.made
    assert _same_files(a.docs + a.vecs, b.docs + b.vecs)
    assert not filecmp.cmp(a.docs[0], c.docs[0], shallow=False)


def test_index_edit_ts_is_unique_per_id(tmp_path):
    import duckdb

    shape = INDEX_SHAPE
    plan = _index_inputs(4, str(tmp_path), 80)
    assert len(plan.docs) > 4
    for files, key in ((plan.docs, "doc_id"), (plan.vecs, "vec_id")):
        src = ", ".join(f"'{p}'" for p in files)
        dup = duckdb.sql(
            f"SELECT count(*) FROM (SELECT {key}, edit_ts FROM read_parquet([{src}]) "
            f"GROUP BY ALL HAVING count(*) > 1)"
        ).fetchone()[0]
        assert dup == 0
    late = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{plan.docs[4]}') WHERE edit_ts < 40000"
    ).fetchone()[0]
    assert late == int(shape.epoch_docs * shape.late_share)


def test_etl_inputs_are_a_function_of_the_seed(tmp_path):
    a = gen.etl_tables(2, 0.002, str(tmp_path / "a"))
    gen.etl_tables(2, 0.002, str(tmp_path / "b"))
    assert a["lineitem"] == 12_000
    for name in a:
        assert filecmp.cmp(
            os.path.join(tmp_path, "a", f"{name}.parquet"),
            os.path.join(tmp_path, "b", f"{name}.parquet"),
            shallow=False,
        )
    assert gen.etl_row_batches(1, 2, 5) == gen.etl_row_batches(1, 2, 5)
    assert gen.etl_row_batches(1, 2, 5) != gen.etl_row_batches(2, 2, 5)


def test_schedule_runs_the_warmup_once_then_whole_cycles():
    made = []
    ops = gen.OpStream(("w",), ("a", "b"), lambda kind: made.append(kind) or {"kind": kind})
    assert ops[2] == {"kind": "b"} and made == ["w", "a", "b"]
    assert [op["kind"] for op in ops.head(6)] == ["w", "a", "b", "a", "b", "a"]
    assert made == ["w", "a", "b", "a", "b", "a"]  # each op is made once, in order
    assert ops[999]["kind"] == "a"  # the schedule never runs out
