"""Seeded input generators, one per workload.

Each generator is a pure function of its seed: it writes its inputs as
parquet under a directory and returns a plan of the run (input paths,
the op schedule with every op's parameters) plus the input properties
the run prints. The program under test only ever sees the parquet files
and the parameters, never the generator.
"""

from __future__ import annotations

import base64
import itertools
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# table workloads
# ---------------------------------------------------------------------------

TABLE_COLUMNS = ("day", "id", "ts", "amount", "cat", "payload")
_CATS = np.array([f"cat{i:02d}" for i in range(16)])


class OpStream:
    """The op schedule, made on demand: the warmup kinds once, then the
    cycle over and over. ``make(kind)`` draws an op's parameters (and
    writes any input file it needs) when the op is first asked for, in
    schedule order, so op ``i`` is the same for a seed however far a run
    gets, and a run never runs out of ops."""

    def __init__(self, warmup: tuple[str, ...], cycle: tuple[str, ...], make):
        self._kinds = itertools.chain(warmup, itertools.cycle(cycle))
        self._make = make
        self.made: list[dict] = []

    def __getitem__(self, i: int) -> dict:
        while len(self.made) <= i:
            self.made.append(self._make(next(self._kinds)))
        return self.made[i]

    def head(self, n: int) -> list[dict]:
        """The first ``n`` ops."""
        return [self[i] for i in range(n)]


def parquet_rows(path: str) -> int:
    return pq.read_metadata(path).num_rows


def day_name(d: int) -> str:
    return f"2024-03-{d + 1:02d}"


@dataclass
class TableShape:
    """The knobs of a table workload's inputs."""

    rows: int  # base rows
    parts: int  # partitions (days); id % parts is the day index
    merge_rows: int  # rows per merge batch
    merge_days: int  # recent days one merge batch touches
    insert_share: float  # share of a merge batch that is new keys
    probe_keys: int  # keys per PK probe
    zipf_a: float  # key skew of probes and updates
    recent_bias: float  # day weight ratio: day d weighs recent_bias**d
    delete_mod: int  # a delete removes keys with id % delete_mod == r
    warmup: tuple[str, ...]  # op kinds run once before the timed cycles
    cycle: tuple[str, ...]  # the op kinds, repeated


@dataclass
class TablePlan:
    base: str
    ops: OpStream
    props: dict
    batches: list[str] = field(default_factory=list)  # made with the merge ops
    batch_bytes: list[int] = field(default_factory=list)


def _payloads(rng: np.random.Generator, n: int) -> list[str]:
    """Incompressible text of 64-96 characters (base64 of random bytes),
    so the table's size on disk follows its row count."""
    lens = rng.integers(64, 97, n)
    blob = base64.b64encode(rng.bytes(int(lens.sum()) * 3 // 4 + 3)).decode()
    out, pos = [], 0
    for n_chars in lens.tolist():
        out.append(blob[pos : pos + n_chars])
        pos += n_chars
    return out


def _rows(rng, ids: np.ndarray, parts: int, ts: int) -> pa.Table:
    days = np.array([day_name(d) for d in range(parts)])
    n = len(ids)
    return pa.table(
        {
            "day": days[ids % parts],
            "id": ids.astype(np.int64),
            "ts": np.full(n, ts, dtype=np.int64),
            # whole cents: sums are exact in every engine
            "amount": rng.integers(0, 100_000, n).astype(np.float64) / 100.0,
            "cat": _CATS[rng.integers(0, len(_CATS), n)],
            "payload": _payloads(rng, n),
        }
    )


def _recent_day(rng, shape: TableShape, size=None):
    """Day index, weighted toward the most recent (highest) days."""
    w = shape.recent_bias ** np.arange(shape.parts, dtype=np.float64)
    return rng.choice(shape.parts, size=size, p=w / w.sum())


def _zipf_ids(rng, shape: TableShape, days: np.ndarray, span: int) -> np.ndarray:
    """Zipf-skewed ids inside each given day: rank r of day d is
    ``r * parts + d``, so popular keys are the low ranks of a day."""
    ranks = np.minimum(rng.zipf(shape.zipf_a, size=len(days)) - 1, span - 1)
    return ranks * shape.parts + days


def table_inputs(seed: int, shape: TableShape, out_dir: str, other=None) -> TablePlan:
    """Base table, and the op schedule of a table workload; a merge op
    writes its batch when it is made, and ``other(kind)`` makes the ops
    of kinds that are not the table's."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, "base.parquet")
    per_day = shape.rows // shape.parts
    pq.write_table(_rows(rng, np.arange(per_day * shape.parts), shape.parts, 1), base)
    next_new = per_day * shape.parts  # ids from here on are inserts

    def make(kind: str) -> dict:
        nonlocal next_new
        op: dict = {"kind": kind}
        if kind == "probe":
            days = _recent_day(rng, shape, shape.probe_keys)
            # ranks reach past the live rows, so some probes miss
            ids = _zipf_ids(rng, shape, days, per_day + per_day // 4)
            op["keys"] = sorted({(day_name(int(i % shape.parts)), int(i)) for i in ids})
        elif kind == "read":
            hi = max(1, int(_recent_day(rng, shape)))
            op["days"] = (day_name(hi - 1), day_name(hi))  # two days
        elif kind == "cdc":
            op["back"] = 2  # the last two versions
        elif kind == "merge":
            n_new = int(shape.merge_rows * shape.insert_share)
            n_upd = shape.merge_rows - n_new
            top = shape.parts - 1
            # n_upd distinct skewed keys over the merge_days most recent days
            upd = np.empty(0, dtype=np.int64)
            while len(upd) < n_upd:
                days = top - np.arange(4 * n_upd) % shape.merge_days
                ids = np.concatenate([upd, _zipf_ids(rng, shape, days, per_day)])
                _, first = np.unique(ids, return_index=True)
                upd = ids[np.sort(first)][:n_upd]
            # next_new stays a multiple of parts, so new ids never collide
            new_days = top - np.arange(n_new) % shape.merge_days
            new = next_new + np.arange(n_new) * shape.parts + new_days
            next_new += n_new * shape.parts
            k = len(plan.batches)
            path = os.path.join(out_dir, f"batch{k:05d}.parquet")
            # ts: every batch is newer than the last
            pq.write_table(_rows(rng, np.concatenate([upd, new]), shape.parts, 1000 + k), path)
            op["batch"] = k
            plan.batches.append(path)
            plan.batch_bytes.append(os.path.getsize(path))
        elif kind == "delete":
            day = int(_recent_day(rng, shape))
            op["days"] = (day_name(day), day_name(day))
            op["mod"], op["rem"] = shape.delete_mod, int(rng.integers(0, shape.delete_mod))
        elif kind == "compact":
            pass
        elif other is not None:
            return other(kind)
        else:
            raise ValueError(f"unknown op kind {kind!r}")
        return op

    table_ops = [k for k in shape.cycle if k in ("probe", "read", "cdc", "merge", "delete", "compact")]
    writes = sum(k in ("merge", "delete", "compact") for k in table_ops)
    props = {
        "base_rows": shape.rows,
        "partitions": shape.parts,
        "rows_per_batch": shape.merge_rows,
        "insert_share": shape.insert_share,
        "probe_keys": shape.probe_keys,
        "key_skew_zipf_a": shape.zipf_a,
        "recent_day_bias": shape.recent_bias,
        "delete_share_of_table_ops": table_ops.count("delete") / len(table_ops),
        "write_share_of_table_ops": writes / len(table_ops),
        "warmup_ops": list(shape.warmup),
        "op_cycle": list(shape.cycle),
        "base_parquet_bytes": os.path.getsize(base),
    }
    plan = TablePlan(base, OpStream(shape.warmup, shape.cycle, make), props)
    return plan


# ---------------------------------------------------------------------------
# index_maintain: document and vector edit streams
# ---------------------------------------------------------------------------

_WORDS = np.array(
    (
        "the a of data table stream spark join window row column batch key "
        "group merge scan part order line hash query index fast slow small "
        "big customer supplier agg filter sort token text vector search"
    ).split()
)
VEC_DIM = 64


@dataclass
class IndexShape:
    docs: int  # document and vector id space
    epoch_docs: int  # doc edits per epoch
    epoch_vecs: int  # vector edits per epoch
    late_share: float  # share of an epoch's edits that are late and stale
    empty_share: float  # share of an epoch's doc edits that empty the doc
    delete_share: float  # share of an epoch's vector edits that delete
    warmup: tuple[str, ...]  # op kinds run once before the timed cycles
    cycle: tuple[str, ...]


@dataclass
class IndexPlan:
    ops: OpStream
    props: dict
    # per epoch, made when an applier op first asks for the epoch
    docs: list[str] = field(default_factory=list)  # (doc_id, text, edit_ts)
    vecs: list[str] = field(default_factory=list)  # (vec_id, e, edit_ts, op)
    epoch_bytes: list[tuple[int, int]] = field(default_factory=list)  # (docs, vecs) parquet bytes


def _text(rng, n_words: int) -> str:
    return " ".join(_WORDS[rng.integers(0, len(_WORDS), n_words)].tolist())


def index_inputs(seed: int, shape: IndexShape, out_dir: str) -> IndexPlan:
    """Epoch files of document and vector edits, with new docs, re-edits,
    late stale edits (older edit_ts than the doc's committed one) and
    emptying edits. ``edit_ts`` is unique per id, so last-write-wins has
    no ties: epoch e writes ``e * 10_000 + slot``, and a late edit writes
    ``(e - 2) * 10_000 + 5_000 + slot``, below anything epoch e - 1 wrote.

    An op applies the next epoch to one applier's index (``search``,
    ``dedup``, ``ann``), reads the search index, or compacts one index.
    Epoch files are written in epoch order, from their own generator, as the
    first applier op that needs one is made."""
    epoch_rng = np.random.default_rng(seed)
    op_rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    centers = epoch_rng.normal(0.0, 1.0, (8, VEC_DIM))

    def write_epoch(e: int) -> None:
        rng = epoch_rng
        n_late = int(shape.epoch_docs * shape.late_share) if e > 2 else 0
        ids = rng.choice(shape.docs, shape.epoch_docs, replace=False)
        slot = np.arange(len(ids))
        ts = e * 10_000 + slot
        if n_late:
            ts[:n_late] = (e - 2) * 10_000 + 5_000 + slot[:n_late]
        n_empty = int(shape.epoch_docs * shape.empty_share)
        texts = [
            "123 456" if j < n_empty else _text(rng, int(rng.integers(4, 40)))
            for j in range(len(ids))
        ]
        texts = texts[n_empty:] + texts[:n_empty]  # empties are not late
        dpath = os.path.join(out_dir, f"docs{e:05d}.parquet")
        pq.write_table(
            pa.table({"doc_id": ids.astype(np.int64), "text": texts, "edit_ts": ts.astype(np.int64)}),
            dpath,
        )
        vids = rng.choice(shape.docs, shape.epoch_vecs, replace=False)
        vslot = np.arange(len(vids))
        vts = e * 10_000 + vslot
        v_late = int(shape.epoch_vecs * shape.late_share) if e > 2 else 0
        if v_late:
            vts[:v_late] = (e - 2) * 10_000 + 5_000 + vslot[:v_late]
        n_del = int(shape.epoch_vecs * shape.delete_share)
        op_col = ["upsert"] * (len(vids) - n_del) + ["delete"] * n_del
        emb = np.round(centers[vids % len(centers)] + rng.normal(0.0, 0.3, (len(vids), VEC_DIM)), 4)
        e_col = [None if o == "delete" else row.tolist() for o, row in zip(op_col, emb)]
        vpath = os.path.join(out_dir, f"vecs{e:05d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "vec_id": vids.astype(np.int64),
                    "e": pa.array(e_col, pa.list_(pa.float64())),
                    "edit_ts": vts.astype(np.int64),
                    "op": op_col,
                }
            ),
            vpath,
        )
        plan.docs.append(dpath)
        plan.vecs.append(vpath)
        plan.epoch_bytes.append((os.path.getsize(dpath), os.path.getsize(vpath)))

    applied = {"search": 0, "dedup": 0, "ann": 0}
    compacts = 0

    def make(kind: str) -> dict:
        nonlocal compacts
        op: dict = {"kind": kind}
        if kind in applied:
            op["epoch"] = applied[kind]
            applied[kind] += 1
            while len(plan.docs) <= op["epoch"]:
                write_epoch(len(plan.docs) + 1)
        elif kind == "read":
            lo = int(op_rng.integers(0, len(_WORDS) - 4))
            op["terms"] = tuple(sorted(_WORDS[lo : lo + 4].tolist()))
        elif kind == "compact":
            op["store"] = ("search", "dedup", "ann")[compacts % 3]
            compacts += 1
        else:
            raise ValueError(f"unknown op kind {kind!r}")
        return op

    props = {
        "id_space": shape.docs,
        "rows_per_batch": {"docs": shape.epoch_docs, "vectors": shape.epoch_vecs},
        "late_edit_share": shape.late_share,
        "emptying_edit_share": shape.empty_share,
        "delete_share": shape.delete_share,
        "warmup_ops": list(shape.warmup),
        "op_cycle": list(shape.cycle),
    }
    plan = IndexPlan(OpStream(shape.warmup, shape.cycle, make), props)
    return plan


def seed_vectors(seed: int, n: int, out_path: str) -> None:
    """An ``embeddings`` table (vec_id, embedding, label)."""
    rng = np.random.default_rng(seed + 7)
    centers = rng.normal(0.0, 1.0, (8, VEC_DIM))
    labels = np.arange(n) % 8
    emb = (centers[labels] + rng.normal(0.0, 0.3, (n, VEC_DIM))).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        ),
        out_path,
    )


def ann_codebooks(seed: int, n: int = 400, k: int = 8, m: int = 4) -> tuple[list, list]:
    """Frozen IVF cells and PQ codebooks for the vector applier, trained
    the engine's way on ``n`` seeded vectors: the first ``k`` vectors
    seed the centroids and one Lloyd step moves them to their cluster
    means, for the whole vector (``(cid, c)`` rows) and for each of the
    ``m`` subspaces (``(m, cid, c)`` rows)."""
    rng = np.random.default_rng(seed + 7)
    centers = rng.normal(0.0, 1.0, (8, VEC_DIM))
    x = centers[np.arange(n) % 8] + rng.normal(0.0, 0.3, (n, VEC_DIM))

    def lloyd(v: np.ndarray) -> np.ndarray:
        c = v[:k]
        assign = ((v[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(1)
        return np.stack([v[assign == j].mean(0) if (assign == j).any() else c[j] for j in range(k)])

    sub = VEC_DIM // m
    icent = [(j, np.round(c, 6).tolist()) for j, c in enumerate(lloyd(x))]
    pcent = [
        (s, j, np.round(c, 6).tolist())
        for s in range(m)
        for j, c in enumerate(lloyd(x[:, s * sub : (s + 1) * sub]))
    ]
    return icent, pcent


# ---------------------------------------------------------------------------
# etl_queries: the fixture tables the registry queries read, and row dicts
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "new", "hot", "small", "big", "old", "blue", "dark"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pin"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]


def _ts(rng, start: str, days: int, n: int, whole_days: bool = True) -> np.ndarray:
    t0 = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return t0 + off


def etl_tables(seed: int, sf: float, out_dir: str) -> dict:
    """The ten fixture tables (``region`` ... ``embeddings``) at scale
    ``sf``, with the fixtures' schemas and value domains. Returns the
    row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32, i64 = np.int32, np.int64
    cents = lambda lo, hi, n: rng.integers(lo, hi, n) / 100.0  # noqa: E731
    t = {
        "region": {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS},
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": cents(-99_999, 999_999, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": cents(-99_999, 999_999, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": cents(90_000, 100_000, n_part),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": cents(100_000, 50_000_000, n_ord),
            "o_orderdate": _ts(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)).astype(i64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * cents(90_000, 210_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng, "1995-01-02", 2500, n_line),
    }
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": np.sort(_ts(rng, "2024-01-01", 30, n_ev, whole_days=False)),
        "user_id": rng.integers(0, 1500, n_ev).astype(i64),
        "event_type": np.array(_EVENTS)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = [_text(rng, int(rng.integers(8, 90))) for _ in range(n_docs)]
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=i64),
    }
    rows = {}
    for name, cols in t.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    seed_vectors(seed, n_emb, os.path.join(out_dir, "embeddings.parquet"))
    rows["embeddings"] = n_emb
    return rows


def etl_row_batches(seed: int, n_batches: int, rows: int) -> list[list[dict]]:
    """Row dicts for ``io.write_table`` carrying the reference's coercion
    types: int, float, str, bool, datetime, date, and None."""
    from datetime import date, datetime, timedelta

    rng = np.random.default_rng(seed + 11)
    out = []
    for b in range(n_batches):
        batch = []
        for i in range(rows):
            k = b * rows + i
            batch.append(
                {
                    "row_id": k,
                    "qty": int(rng.integers(0, 1000)),
                    "price": float(rng.integers(0, 10**6)) / 100.0,
                    "name": None if i % 17 == 0 else _text(rng, 3),
                    "flag": bool(i % 2),
                    "ts": datetime(2024, 1, 1) + timedelta(seconds=int(rng.integers(0, 10**7))),
                    "day": date(2024, 1, 1) + timedelta(days=int(rng.integers(0, 365))),
                }
            )
        out.append(batch)
    return out
