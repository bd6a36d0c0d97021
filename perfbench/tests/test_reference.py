import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.reference import IndexModel, TableModel


def _write(path, rows):
    cols = ("day", "id", "ts", "amount", "cat", "payload")
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), path)


def test_table_model_replays_versions(tmp_path):
    base = str(tmp_path / "base.parquet")
    _write(base, [("d1", 1, 1, 1.5, "a", "xx"), ("d1", 2, 1, 2.0, "b", "yy"), ("d2", 3, 1, 3.0, "a", "zz")])
    batch = str(tmp_path / "b.parquet")
    _write(batch, [("d1", 2, 5, 9.0, "b", "Q"), ("d2", 4, 5, 1.0, "c", "new")])
    m = TableModel(base)
    m.merge(1, batch)
    assert m.matching("d2", "d2", 3, 0) == 1  # id 3
    m.delete(2, "d2", "d2", 3, 0)
    assert m.matching("d2", "d2", 3, 0) == 0
    assert m.probe(1, [("d1", 2), ("d9", 7)]) == [("d1", 2, 5, 9.0, "b", "Q")]
    assert m.read(2, "d1", "d2")[:3] == (3, 1 + 2 + 4, 1 + 5 + 5)
    assert m.read(0, "d1", "d1")[3] == 350  # cents
    assert m.changes(0, 2) == sorted(
        [("d1", 2, "update_postimage", 5), ("d2", 4, "insert", 5), ("d2", 3, "delete", None)]
    )
    m.same(3)
    assert m.changes(2, 3) == []
    m.close()


def test_index_model_last_write_wins(tmp_path):
    d0, d1 = str(tmp_path / "d0.parquet"), str(tmp_path / "d1.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["Spark join spark", "a b"], "edit_ts": [10, 11]}), d0)
    # doc 1: a late edit that loses; doc 2: an emptying edit that wins
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["stale", "42"], "edit_ts": [5, 20]}), d1)
    v0, v1 = str(tmp_path / "v0.parquet"), str(tmp_path / "v1.parquet")
    vt = pa.list_(pa.float64())
    pq.write_table(pa.table({"vec_id": [1, 2], "e": pa.array([[1.0, 2.0], [3.0]], vt),
                             "edit_ts": [10, 10], "op": ["upsert", "upsert"]}), v0)
    pq.write_table(pa.table({"vec_id": [1, 2], "e": pa.array([[0.5], None], vt),
                             "edit_ts": [3, 12], "op": ["upsert", "delete"]}), v1)
    m = IndexModel([d0, d1], [v0, v1])
    assert m.search_final(1) == [("a", 2, 1), ("b", 2, 1), ("join", 1, 1), ("spark", 1, 2)]
    assert m.search_final(2) == [("join", 1, 1), ("spark", 1, 2)]
    assert m.search_checksum(2, ("spark", "zzz")) == (1, 2, 2)
    assert m.dedup_docs(1) == [1, 2]
    assert m.dedup_docs(2) == [1]
    assert m.ann_final(2) == [(1, 10, 3.0)]
    m.close()
