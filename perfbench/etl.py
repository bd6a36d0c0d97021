"""The reference's I/O surface, a Z-order layout rewrite, and one
registry query per named batch operator module and a streaming one, over
generated fixture tables. No store is in the path. ``EtlOps`` runs these
ops inside any workload's schedule; ``etl_queries`` runs them alone."""

from __future__ import annotations

import os

from perfbench import gen
from perfbench.counters import tree_size
from perfbench.loop import Workload

SF = 0.01
# one store-free query per module, drawn once with seed 20261017 from
# the module's registered queries whose build creates no ``sources``
# store; pinned by name, so queries added to the registry later do not
# change the workload. The run budget holds four batch operator modules
# and one streaming module; the layout module's queries need a 32-file
# build in setup (8-18 s a run), so the layout layer is measured by a
# direct ``write_zorder`` call
QUERIES = (
    "q08_join_cross",  # operators.relational
    "q100_dormant_customers",  # operators.analytics
    "q73_null_safe_join",  # operators.stats
    "q189_winsorized_stats",  # operators.text
    "q62_stream_session",  # streaming.windows
)
IO_ROWS = 2_000
IO_BATCHES = 8
ZORDER_BY = ["qty", "row_id"]
ZORDER_FILES = 4
# each query once, an io.write_table, a Z-order rewrite of a batch and
# an io.read_table of the newest table. No warmup: a batch ETL job runs
# each query once per session, so the first run, with its code
# generation, is the cost a user sees
CYCLE = ("query",) * 3 + ("io_write",) + ("query",) * 2 + ("layout_write", "io_read")
CLASSES = {"query": ("query",), "commit": ("io_write", "layout_write"), "read": ("io_read",)}
_IO_CHECKSUM = (
    "count(*)", "sum(row_id)", "sum(qty)", "sum(CAST(round(price * 100) AS BIGINT))",
    "count(name)", "sum(length(name))", "sum(CAST(flag AS INT))",
    "min(ts)", "max(ts)", "min(day)", "max(day)",
)


def layer_of(q) -> str:
    return q.spark.__module__.removeprefix("parquet_demo_spark.")


class EtlOps:
    """Inputs, ops and checks of the io round trip, the layout rewrite
    and the pinned queries. Op kinds: ``query`` (the next pinned query,
    round robin), ``io_write``, ``io_read`` (the newest table written)
    and ``layout_write`` (a batch rewritten Z-ordered)."""

    kinds = ("query", "io_write", "io_read", "layout_write")

    def __init__(self, spark, seed: int, work: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from parquet_demo_spark import io, layout
        from parquet_demo_spark.registry import all_queries

        self.spark, self.io, self.layout = spark, io, layout
        self.sf = os.path.join(work, "sf")
        rows = gen.etl_tables(seed, SF, self.sf)
        registry = all_queries()
        self.queries = [registry[name] for name in QUERIES]
        # the public calls the ops make, as ``<layer>.<function>``
        self.calls = (
            "io.write_table", "io.read_table", "layout.write_zorder",
            *(f"{layer_of(q)}.query" for q in self.queries),
        )
        self.batches = gen.etl_row_batches(seed, IO_BATCHES, IO_ROWS)
        self.ref = os.path.join(work, "io_ref")
        self.out = os.path.join(work, "io_out")
        self.zout = os.path.join(work, "layout_out")
        self.roots = [self.out, self.zout]
        os.makedirs(self.ref)
        os.makedirs(self.out)
        os.makedirs(self.zout)
        self.ref_bytes = []
        for k, b in enumerate(self.batches):
            p = os.path.join(self.ref, f"b{k}.parquet")
            pq.write_table(pa.Table.from_pylist(b), p)
            self.ref_bytes.append(os.path.getsize(p))
        self._made = {"query": 0, "io_write": 0, "layout_write": 0}
        self.written: list[int] = []  # tables written, in order
        self.props = {
            "sf": SF,
            "table_rows": rows,
            "queries": {layer_of(q): q.name for q in self.queries},
            "io_rows_per_batch": IO_ROWS,
            "zorder": {"by": ZORDER_BY, "files": ZORDER_FILES},
        }

    def make(self, kind: str) -> dict:
        op: dict = {"kind": kind}
        if kind == "query":
            op["q"] = self._made["query"] % len(self.queries)
        elif kind in ("io_write", "layout_write"):
            op["k"] = self._made[kind]
            op["batch"] = op["k"] % len(self.batches)
        elif kind != "io_read":
            raise ValueError(f"unknown op kind {kind!r}")
        if kind in self._made:
            self._made[kind] += 1
        return op

    def run_op(self, rec, op: dict) -> dict:
        spark, kind = self.spark, op["kind"]
        if kind == "query":
            q = self.queries[op["q"]]
            layer = layer_of(q)
            with rec.call(layer, "query", "plan"):
                df = q.spark(spark, self.sf)
            with rec.call(layer, "query", "exec"):
                result = df.toArrow()
            return {"q": q.name, "result": result}
        if kind == "io_write":
            path = os.path.join(self.out, f"t{op['k']}")
            with rec.call("io", "write_table", roots={"": self.out}):
                self.io.write_table(spark, path, None, self.batches[op["batch"]])
            self.written.append(op["k"])
            return {"rows_in": IO_ROWS, "bytes_in": self.ref_bytes[op["batch"]]}
        if kind == "layout_write":
            df = spark.read.parquet(os.path.join(self.ref, f"b{op['batch']}.parquet"))
            path = os.path.join(self.zout, f"z{op['k']}")
            with rec.call("layout", "write_zorder", roots={"": self.zout}):
                self.layout.write_zorder(df, path, ZORDER_BY, n_files=ZORDER_FILES)
            return {"rows_in": IO_ROWS, "bytes_in": self.ref_bytes[op["batch"]], "k": op["k"]}
        if kind == "io_read":
            k = self.written[-1]
            with rec.call("io", "read_table", "plan"):
                df = self.io.read_table(spark, os.path.join(self.out, f"t{k}"))
            with rec.call("io", "read_table", "exec"):
                row = tuple(df.selectExpr(*_IO_CHECKSUM).first())
            return {"k": k, "row": row}
        raise ValueError(kind)

    def check(self, log: list[dict]) -> tuple[int, list[str], int]:
        """Each io read, and each Z-ordered rewrite read back whole,
        against DuckDB over the same rows; each query result against its
        registry oracle (multiset equality), or a row count for a query
        without one. Returns (ops wrong, what was wrong,
        bytes of the written tables' rows as parquet)."""
        from perfbench.reference import connect

        con = connect()
        con.execute("SET TimeZone = 'UTC'")

        def checksum(parquet: str) -> tuple:
            return _canon(con.execute(
                f"SELECT {', '.join(_IO_CHECKSUM)} FROM read_parquet('{parquet}')"
            ).fetchone())

        def ref(k: int) -> str:  # the rows table or rewrite ``k`` was made from
            return os.path.join(self.ref, f"b{k % len(self.batches)}.parquet")

        for f in sorted(os.listdir(self.sf)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[: -len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{self.sf}/{f}')"
                )
        oracle = {q.name: q.oracle for q in self.queries}
        bad, live = [], 0
        for r in log:
            if "error" in r:
                continue
            if r["kind"] == "io_read":
                if _canon(r["row"]) != checksum(ref(r["k"])):
                    bad.append(f"io_read t{r['k']}")
            elif r["kind"] == "layout_write":
                if checksum(os.path.join(self.zout, f"z{r['k']}", "*.parquet")) != checksum(ref(r["k"])):
                    bad.append(f"layout_write z{r['k']}")
            elif r["kind"] == "query":
                got, sql = r.pop("result"), oracle[r["q"]]
                if not (got.num_rows > 0 if sql is None else _same_rows(con, got, sql)):
                    bad.append(r["q"])
            if r["kind"] in ("io_write", "layout_write"):  # each leaves its rows behind
                live += r["bytes_in"]
        con.close()
        return len(bad), bad, live


class EtlWorkload(Workload):
    """etl_queries: the ``EtlOps`` alone, the control workload for
    store changes."""

    name = "etl_queries"
    classes = CLASSES

    def setup(self, spark, seed: int, work: str) -> dict:
        self.spark = spark
        self.etl = EtlOps(spark, seed, work)
        self.calls = self.etl.calls
        self.ops = gen.OpStream((), CYCLE, self.etl.make)
        self.roots = self.etl.roots
        self.warmup_ops, self.cycle_len = 0, len(CYCLE)
        return {**self.etl.props, "op_cycle": list(CYCLE)}

    def run_op(self, rec, i: int, op: dict) -> dict:
        return self.etl.run_op(rec, op)

    def check(self) -> tuple[int, int, dict]:
        wrong, bad, live = self.etl.check(self.log)
        out_bytes, out_files = tree_size(self.roots)
        return len(self.log), wrong, {
            "space_amp": out_bytes / live,
            "store_bytes_end": out_bytes,
            "store_files_end": out_files,
            "wrong": bad,
        }


def _same_rows(con, got, oracle_sql: str) -> bool:
    """Multiset equality of a Spark result and its oracle, columns
    matched by name."""
    con.register("spark_result", got)
    try:
        exp_cols = [d[0] for d in con.execute(f"SELECT * FROM ({oracle_sql}) LIMIT 0").description]
        if sorted(exp_cols) != sorted(got.column_names):
            return False
        cols = ", ".join(f'"{c}"' for c in sorted(exp_cols))
        a = f"SELECT {cols} FROM spark_result"
        b = f"SELECT {cols} FROM ({oracle_sql})"
        n = con.execute(
            f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + (SELECT count(*) FROM ({b} EXCEPT ALL {a}))"
        ).fetchone()[0]
        return n == 0
    finally:
        con.unregister("spark_result")


def _canon(row: tuple) -> tuple:
    return tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in row)
