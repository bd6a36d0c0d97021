"""DuckDB reference models, built from the generated inputs alone.

The table model replays the committed writes of a run version by
version and answers the same probes, scoped reads and change feeds the
store answered. The index model derives each index's expected final
state from the edit stream by last-write-wins on ``edit_ts``. Neither
touches Spark or the store under test.
"""

from __future__ import annotations

import os
import tempfile

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB that spills, if ever, under the temp dir."""
    return duckdb.connect(config={"temp_directory": tempfile.gettempdir()})


# the checksum row a scoped read is materialized to, in both engines
CHECKSUM_SQL = (
    "count(*) AS n, sum(id) AS sum_id, sum(ts) AS sum_ts, "
    "sum(CAST(round(amount * 100) AS BIGINT)) AS cents, "
    "sum(length(payload)) AS chars, sum(ascii(payload)) AS first_chars"
)
_COLS = "day, id, ts, amount, cat, payload"


class TableModel:
    """Versioned snapshots of a partitioned table keyed (day, id)."""

    def __init__(self, base_path: str, keep: int = 6):
        self.con = connect()
        self.keep = keep
        self.con.execute(f"CREATE TABLE s0 AS SELECT {_COLS} FROM read_parquet('{base_path}')")
        self.versions = [0]

    def _new(self, v: int, sql: str) -> None:
        self.con.execute(f"CREATE TABLE s{v} AS {sql}")
        self.versions.append(v)
        while len(self.versions) > self.keep:
            self.con.execute(f"DROP TABLE s{self.versions.pop(0)}")

    def _head(self) -> str:
        return f"s{self.versions[-1]}"

    def merge(self, v: int, batch_path: str) -> None:
        b = f"read_parquet('{batch_path}')"
        self._new(
            v,
            f"SELECT {_COLS} FROM {self._head()} t WHERE NOT EXISTS "
            f"(SELECT 1 FROM {b} u WHERE u.day = t.day AND u.id = t.id) "
            f"UNION ALL SELECT {_COLS} FROM {b}",
        )

    @staticmethod
    def _pred(lo: str, hi: str, mod: int, rem: int) -> str:
        return f"day BETWEEN '{lo}' AND '{hi}' AND id % {mod} = {rem}"

    def delete(self, v: int, *scope) -> None:
        """Apply a scoped delete: ``scope`` is (lo, hi, mod, rem)."""
        self._new(v, f"SELECT {_COLS} FROM {self._head()} WHERE NOT ({self._pred(*scope)})")

    def matching(self, *scope) -> int:
        """Head rows a scoped delete would remove."""
        return self.con.execute(
            f"SELECT count(*) FROM {self._head()} WHERE {self._pred(*scope)}"
        ).fetchone()[0]

    def same(self, v: int) -> None:
        """A commit that changes no row (a compaction)."""
        self._new(v, f"SELECT * FROM {self._head()}")

    def probe(self, v: int, keys: list[tuple]) -> list[tuple]:
        self.con.execute("CREATE OR REPLACE TEMP TABLE k (day VARCHAR, id BIGINT)")
        self.con.executemany("INSERT INTO k VALUES (?, ?)", keys)
        return sorted(
            self.con.execute(f"SELECT {_COLS} FROM s{v} JOIN k USING (day, id)").fetchall()
        )

    def read(self, v: int, lo: str, hi: str) -> tuple:
        return self.con.execute(
            f"SELECT {CHECKSUM_SQL} FROM s{v} WHERE day BETWEEN '{lo}' AND '{hi}'"
        ).fetchone()

    def changes(self, v_from: int, v_to: int) -> list[tuple]:
        """Net changes as (day, id, change_type, ts); ts is None for deletes."""
        a, b = f"s{v_from}", f"s{v_to}"
        return sorted(
            self.con.execute(
                f"""
            SELECT b.day, b.id,
                   CASE WHEN a.id IS NULL THEN 'insert' ELSE 'update_postimage' END,
                   b.ts
            FROM {b} b LEFT JOIN {a} a USING (day, id)
            WHERE a.id IS NULL OR a.ts <> b.ts OR a.amount <> b.amount
               OR a.cat <> b.cat OR a.payload <> b.payload
            UNION ALL
            SELECT a.day, a.id, 'delete', NULL FROM {a} a ANTI JOIN {b} b USING (day, id)
            """
            ).fetchall()
        )

    def live_parquet_bytes(self, path: str) -> int:
        """Bytes of the head snapshot written once as parquet."""
        self.con.execute(f"COPY (SELECT * FROM {self._head()}) TO '{path}' (FORMAT PARQUET)")
        return os.path.getsize(path)

    def close(self) -> None:
        self.con.close()


class IndexModel:
    """Expected final state of the three indexes after epochs [0, n)."""

    def __init__(self, doc_paths: list[str], vec_paths: list[str]):
        self.con = connect()
        docs = " UNION ALL ".join(
            f"SELECT *, {i} AS epoch FROM read_parquet('{p}')" for i, p in enumerate(doc_paths)
        )
        vecs = " UNION ALL ".join(
            f"SELECT *, {i} AS epoch FROM read_parquet('{p}')" for i, p in enumerate(vec_paths)
        )
        self.con.execute(f"CREATE TABLE doc_edits AS {docs}")
        self.con.execute(f"CREATE TABLE vec_edits AS {vecs}")

    def _docs(self, epochs: int) -> str:
        return (
            "SELECT doc_id, arg_max(text, edit_ts) AS text FROM doc_edits "
            f"WHERE epoch < {epochs} GROUP BY doc_id"
        )

    def postings(self, epochs: int) -> str:
        """(term, doc_id, tf): lowercased [a-z]+ tokens of each doc's
        winning text, the engine's tokenizer."""
        return f"""
            SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
              SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
              FROM ({self._docs(epochs)})
            ) WHERE term <> '' GROUP BY term, doc_id"""

    def search_checksum(self, epochs: int, terms: tuple[str, ...]) -> tuple:
        ts = ", ".join(f"'{t}'" for t in terms)
        return self.con.execute(
            "SELECT count(*), coalesce(sum(tf), 0), coalesce(sum(doc_id * tf), 0) "
            f"FROM ({self.postings(epochs)}) WHERE term IN ({ts})"
        ).fetchone()

    def search_final(self, epochs: int) -> list[tuple]:
        return sorted(self.con.execute(self.postings(epochs)).fetchall())

    def dedup_docs(self, epochs: int) -> list[int]:
        """Docs with at least two tokens (one bigram shingle or more)."""
        return [
            r[0]
            for r in self.con.execute(
                f"""SELECT doc_id FROM ({self._docs(epochs)})
                WHERE len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                      x -> x <> '')) >= 2 ORDER BY doc_id"""
            ).fetchall()
        ]

    def ann_final(self, epochs: int) -> list[tuple]:
        """(vec_id, edit_ts, rounded vector sum) of the live vectors."""
        return sorted(
            self.con.execute(
                f"""SELECT vec_id, edit_ts, round(list_sum(e), 6) FROM (
                  SELECT vec_id, arg_max(e, edit_ts) AS e, arg_max(op, edit_ts) AS op,
                         max(edit_ts) AS edit_ts
                  FROM vec_edits WHERE epoch < {epochs} GROUP BY vec_id
                ) WHERE op = 'upsert'"""
            ).fetchall()
        )

    def close(self) -> None:
        self.con.close()
