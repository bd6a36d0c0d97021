"""File-backed mutable table with MERGE (replace-by-PK) semantics — R14
run for real, without a mongod.

The reference's only genuinely *mutable* store is Mongo: bulk ReplaceOne
upserts keyed by a composite PK (`examples/ingest_parquet_to_mongo_bulk.py`
`_bulk.py:108-116,119-209`). The connector jar and a live mongod aren't in
this container, so the capability is re-expressed the way lakehouse
formats (Delta/Iceberg/Hudi — public designs) implement MERGE on object
storage:

- **Immutable versioned snapshots + atomic pointer.** Every merge writes
  new parquet under ``data/v{N}/`` and a ``v{N}/manifest.json``, then
  commits by atomically replacing the ``_latest`` pointer file
  (``os.replace`` — POSIX-atomic). Readers resolve the pointer once and
  read a consistent snapshot; a crashed merge leaves only unreferenced
  files, never a corrupt table.
- **Hash-bucketed rewrite.** Rows route to ``pmod(hash(PK), B)`` buckets
  (Spark's stable Murmur3). A merge rewrites ONLY the buckets its
  upserts touch; the new manifest points at fresh dirs for touched
  buckets and re-references prior dirs for the rest. An upsert batch
  touching 1% of keys rewrites ~1% of a 100 TB table, not all of it —
  the same file-pruning story as Delta MERGE on a clustered table.
- **ReplaceOne-faithful combine.** Within an upsert batch, last-write-
  wins by ``version_cols`` (collapse_for_upsert, S24/q24 semantics);
  against the existing snapshot the upsert row replaces the stored row
  unconditionally — exactly Mongo ReplaceOne, where the replacement
  document wins regardless of any version field.

Scale posture: the only shuffle is the PK-window collapse over (touched
current ∪ upserts); the bucket routing is a narrow projection; the write
is partition-parallel parquet. ``B`` sizes the rewrite granularity —
at 100 TB pick B so a bucket ≈ a few GB (e.g. B=65536).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_demo_spark.sources.cdc import classify_changes
from parquet_demo_spark.tuning import scoped_store_op

_BUCKET = "__bucket"
_FROM_UPSERT = "__from_upsert"


class ConcurrentWriteConflict(RuntimeError):
    """Another writer claimed the version this commit targeted.

    Delta-style optimistic concurrency: the exclusive creation of
    ``v{N}/manifest.json`` is the compare-and-swap. The loser's data
    dirs are unreferenced (vacuum reclaims them); the caller should
    re-read the table and retry its merge on top of the winner. If NO
    other writer is active, the blocking manifest is a crashed commit's
    orphan — remove it with :meth:`ParquetMergeStore.clean_orphans`.
    """


# -- per-bucket bloom filters (point-lookup data skipping) --------------
#
# Min/max stats prune RANGE predicates, but a hash-scattered
# high-cardinality column (user_id in a store keyed on a composite PK)
# has every bucket spanning nearly the full value range — min/max can
# never skip a point lookup on it. Parquet/Iceberg solve this with
# per-file bloom filters (a public design: Parquet's split-block blooms,
# Iceberg's bloom write properties); here the bloom lives next to the
# min/max entry in the manifest. Classic double hashing (Kirsch-
# Mitzenmacher): k positions (h1 + i*h2) mod m from one MD5 — MD5 is
# process- and platform-stable, which the build/probe symmetry needs.
# Sizing: m = 16 bits/value (capped), k = 5 → FPR well under 1%.

_BLOOM_MAX_BITS = 1 << 17  # 16 KiB of bits per (bucket, column) cap
_BLOOM_K = 5

# Commits whose just-written parquet totals at most this many bytes
# build their blooms DRIVER-side (one pyarrow pass, no Spark job): the
# distributed build's fixed cost (job launch + mapInArrow + two
# metadata shuffles + collect) is ~1.4 s regardless of data, which
# dominates a small commit — q141 at sf0.1 spent 2.3 s building a
# 2 MB store's blooms (VERDICT r12 #1). Above the threshold the
# executor-side job runs, so driver work stays bounded by the
# threshold, never by the table: a 100 TB ingest always takes the
# distributed path. Bitmaps are BIT-IDENTICAL either way (same
# ``_bloom_positions`` canonicalization; asserted both by
# scripts/bloom_scale_check.py and tests/test_merge_store.py).
def _bloom_driver_max_bytes() -> int:
    return int(
        os.environ.get("SPARK_GRAFT_BLOOM_DRIVER_MAX_BYTES", 64 << 20)
    )


# committed manifests are IMMUTABLE (created with O_EXCL, never
# rewritten — vacuum/clean_orphans only delete), so parsed JSON can be
# cached by path process-wide. Metadata-heavy paths (_parts on every
# partitioned read, stats/bloom pruning, CDC version walks) re-read the
# same manifests constantly; with per-partition bloom rollups a global
# manifest is tens of KB per partition, and re-parsing it per operation
# is pure waste. A stat() guard on each hit keeps deletions honest
# (a vacuumed version must raise, not serve from cache) at ~1000x less
# cost than the parse. Bounded by BYTES as well as entries: blooms
# make a single manifest's footprint proportional to
# buckets × bloom_cols × partitions, so 512 entries alone could pin
# hundreds of MB (ADVICE r9); file size is the proxy for parsed size.
_MANIFEST_CACHE: dict[str, tuple[tuple, dict]] = {}
_MANIFEST_CACHE_MAX = 512
_MANIFEST_CACHE_MAX_BYTES = 64 * 1024 * 1024
_MANIFEST_CACHE_BYTES = [0]


def _manifest_copy(m: dict) -> dict:
    """Two-level defensive copy of a cached manifest.

    Callers receive their OWN top-level dict and their own copies of
    nested dicts/lists (partitions, bucket_paths, stats, blooms,
    op_params — everything mutators touch), so an in-place edit can
    never corrupt the process-wide cache for later readers of the same
    version (ADVICE r9). Values two levels down (per-partition entry
    dicts, per-bucket stat dicts) are copied one more level; anything
    deeper is shared and must be treated as immutable — no current
    caller mutates below that depth."""
    out = dict(m)
    for k, v in out.items():
        if isinstance(v, dict):
            out[k] = {
                kk: (dict(vv) if isinstance(vv, dict)
                     else list(vv) if isinstance(vv, list) else vv)
                for kk, vv in v.items()
            }
        elif isinstance(v, list):
            out[k] = list(v)
    return out


def _cache_evict_one() -> None:
    path, (sig, _m) = next(iter(_MANIFEST_CACHE.items()))
    _MANIFEST_CACHE.pop(path)
    _MANIFEST_CACHE_BYTES[0] -= sig[2]


def _load_manifest(path: str) -> dict:
    # validate by stat signature, not bare existence: a version number
    # can be REUSED at the same path (orphan manifest deleted by
    # clean_orphans, then a later writer commits that version) — the
    # (inode, mtime, size) tuple distinguishes the generations
    try:
        st = os.stat(path)
    except FileNotFoundError:
        stale = _MANIFEST_CACHE.pop(path, None)  # vacuumed underneath
        if stale is not None:
            _MANIFEST_CACHE_BYTES[0] -= stale[0][2]
        raise
    sig = (st.st_ino, st.st_mtime_ns, st.st_size)
    cached = _MANIFEST_CACHE.get(path)
    if cached is not None and cached[0] == sig:
        return _manifest_copy(cached[1])
    if cached is not None:
        _MANIFEST_CACHE_BYTES[0] -= cached[0][2]
        _MANIFEST_CACHE.pop(path)
    with open(path) as fh:
        m = json.load(fh)
    # FIFO bounds (entries AND bytes) — eviction order is irrelevant
    # for correctness
    while len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX or (
        _MANIFEST_CACHE
        and _MANIFEST_CACHE_BYTES[0] + sig[2] > _MANIFEST_CACHE_MAX_BYTES
    ):
        _cache_evict_one()
    _MANIFEST_CACHE[path] = (sig, m)
    _MANIFEST_CACHE_BYTES[0] += sig[2]
    return _manifest_copy(m)


def apply_where_ranges(df: DataFrame, where: dict | None) -> DataFrame:
    """THE residual range filter for ``read(where=...)``: column →
    (lo, hi) closed range, either bound optional. One definition —
    the base read and the merge-on-read overlay (mor_store) must
    filter with identical semantics or a pinned-entry MOR read would
    diverge from the base snapshot it overlays."""
    for col, (lo, hi) in (where or {}).items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df


def schema_ddl(cols, types: dict[str, str], extra: str = "") -> str:
    """Explicit read schema for ``cols`` from a name → simpleString
    type map (plus ``extra`` DDL appended, e.g. an op column). Every
    store scan reads with one: Spark then runs no footer-inference job,
    and a column a file predates (an older dir of an evolved table)
    reads as a NULL of its real type."""
    missing = [c for c in cols if c not in types]
    if missing:
        raise ValueError(f"no recorded type for column(s) {missing}")
    ddl = ", ".join(f"`{c}` {types[c]}" for c in cols)
    return f"{ddl}, {extra}" if extra else ddl


def footer_types(dirs, want) -> dict[str, str]:
    """name → simpleString type map unioned over the parquet footers
    of ``dirs`` (one file per dir, until ``want`` is covered): a
    driver-side pyarrow pass, no Spark job. After an evolution only
    rewritten dirs carry a new column, so one footer is not enough."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    want = set(want)
    types: dict[str, str] = {}
    for d in dirs:
        if not os.path.isdir(d):
            continue
        name = next(
            (f for f in sorted(os.listdir(d)) if f.endswith(".parquet")),
            None,
        )
        if name is None:
            continue
        sch = pq.ParquetFile(os.path.join(d, name)).schema_arrow
        for fname in sch.names:
            # prefer_timestamp_ntz: a parquet timestamp with
            # isAdjustedToUTC=false arrives as a tz-less arrow type and
            # reads back in Spark as timestamp_ntz
            types.setdefault(
                fname,
                from_arrow_type(
                    sch.field(fname).type, prefer_timestamp_ntz=True
                ).simpleString(),
            )
        if want <= set(types):
            break
    return types


# a re-typed column keeps the wider type of a widening chain (every
# dir then reads under it); any other change takes the written type
_WIDENING = (("tinyint", "smallint", "int", "bigint"), ("float", "double"))


def _wider(old: str | None, new: str) -> str:
    chain = next((c for c in _WIDENING if old in c and new in c), None)
    return max(old, new, key=chain.index) if chain else new


def _simple_types(df: DataFrame, cols) -> dict[str, str]:
    """simpleString types of ``df``'s ``cols`` — what a commit wrote."""
    return {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name in cols
    }


def _writer_token() -> str:
    """Unique per-commit-attempt suffix for data/changes/dv dir names.

    Artifact dirs used to be named by the writer's ASSUMED version
    (``data/v00005``): two optimistic writers that both read head v4
    would both write ``data/v00005`` with mode=overwrite — the CAS
    loser clobbers the winner's files BEFORE the manifest conflict is
    even detected, so a rebase-and-retry could commit a manifest whose
    referenced dirs hold the other writer's data. Paths are opaque
    (referenced by manifest; vacuum liveness is path-set-based), so a
    unique suffix makes concurrent attempts physically disjoint and
    the version prefix stays for human debuggability."""
    import uuid

    return uuid.uuid4().hex[:8]


def _bloom_bytes(v) -> bytes:
    """Canonical byte encoding for bloom hashing (int/str/bytes only —
    float equality lookups are a bug upstream, not a skipping target)."""
    if isinstance(v, bytes):
        return v
    if isinstance(v, bool):  # before int: True would alias 1
        return b"\x01" if v else b"\x00"
    if isinstance(v, int):
        return str(v).encode()
    if isinstance(v, str):
        return v.encode()
    raise TypeError(f"unsupported bloom key type: {type(v).__name__}")


def _bloom_positions(v, m: int, k: int):
    import hashlib

    h = hashlib.md5(_bloom_bytes(v)).digest()
    h1 = int.from_bytes(h[:8], "little")
    h2 = int.from_bytes(h[8:16], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_build(values, m: int | None = None, k: int = _BLOOM_K):
    """Bloom dict {m, k, bits(b64)} over ``values`` (nulls skipped), or
    None when no value is hashable (all-null or unsupported type).

    ``m`` defaults to the FIXED ``_BLOOM_MAX_BITS``: uniform sizing is
    what makes blooms COMPOSABLE — same m and k means the partition-
    level rollup is a bitwise OR of bucket bitmaps (see ``_bloom_or``),
    so a partitioned table can skip whole child stores on point
    lookups without opening their manifests. The former adaptive
    sizing (16 bits/distinct value) produced per-bucket m values that
    could never be unioned; the cost of uniformity is a constant
    ~22 KB b64 per (bucket, bloom column) manifest entry — metadata,
    and only for explicitly opted-in bloom_cols.
    """
    import base64

    vals = [v for v in values if v is not None]
    if not vals:
        return None
    try:
        if m is None:
            m = _BLOOM_MAX_BITS
        bits = bytearray((m + 7) // 8)
        for v in vals:
            for pos in _bloom_positions(v, m, k):
                bits[pos >> 3] |= 1 << (pos & 7)
    except TypeError:
        return None
    return {"m": m, "k": k, "bits": base64.b64encode(bytes(bits)).decode()}


def _bloom_or(blooms: list[dict]) -> dict | None:
    """Bitwise-OR union of bloom dicts — exact for membership ("maybe
    contains any of the inputs' values"). Requires identical (m, k)
    (uniform by construction since the fixed-m sizing; pre-uniform
    manifests mix sizes and the caller must skip — conservative)."""
    import base64

    if not blooms:
        return None
    m, k = blooms[0]["m"], blooms[0]["k"]
    if any(b["m"] != m or b["k"] != k for b in blooms[1:]):
        return None
    acc = bytearray(base64.b64decode(blooms[0]["bits"]))
    for b in blooms[1:]:
        for i, byte in enumerate(base64.b64decode(b["bits"])):
            acc[i] |= byte
    return {"m": m, "k": k, "bits": base64.b64encode(bytes(acc)).decode()}


def _bloom_maybe_contains(bloom: dict, v) -> bool:
    """False ⇒ definitely absent; True ⇒ possibly present (or the probe
    value isn't bloom-hashable, in which case we must not prune)."""
    import base64

    bits = base64.b64decode(bloom["bits"])
    try:
        positions = _bloom_positions(v, bloom["m"], bloom["k"])
    except TypeError:
        return True
    return all((bits[p >> 3] >> (p & 7)) & 1 for p in positions)


class ParquetMergeStore:
    """Single-writer, lock-free-reader MERGE store over parquet files."""

    def __init__(
        self,
        root: str,
        keys: tuple[str, ...],
        version_cols: tuple[str, ...] = (),
        num_buckets: int = 8,
        bloom_cols: tuple[str, ...] = (),
        constraints: dict[str, str] | None = None,
    ) -> None:
        if not keys:
            raise ValueError("MERGE requires at least one PK column")
        self.root = root
        self.keys = tuple(keys)
        self.version_cols = tuple(version_cols)
        self.num_buckets = int(num_buckets)
        # columns to build per-bucket bloom filters for at write time
        # (point-lookup skipping where min/max can't prune). Purely an
        # optimization — not validated on reopen: buckets written
        # before/without a bloom simply never skip, and the pruning
        # check is per-(bucket, column) presence.
        self.bloom_cols = tuple(bloom_cols)
        # CHECK constraints (name -> SQL boolean over table columns),
        # validated against every batch of rows a write materializes
        # and persisted in the manifest so a reopened store keeps its
        # invariants. Constructor entries must NOT silently replace a
        # persisted constraint (that would weaken the table's invariant
        # with no error); genuinely-new names are validated against the
        # existing snapshot on first use (add_constraint's law, deferred
        # because __init__ has no SparkSession).
        self.constraints: dict[str, str] = dict(constraints or {})
        self._pending_constraint_validation: dict[str, str] = {}
        os.makedirs(root, exist_ok=True)
        # reopening an existing store with different bucketing/key config
        # would silently route the same PK to a different bucket: the old
        # row survives in an untouched bucket while the replacement lands
        # in a new one — duplicate PKs, ReplaceOne invariant broken with
        # no error. Validate against the committed manifest up front.
        committed = self.current_version()
        if committed is not None:
            m = self._read_manifest(committed)
            persisted = m.get("constraints", {})
            conflicts = {
                n: (self.constraints[n], persisted[n])
                for n in self.constraints
                if n in persisted and persisted[n] != self.constraints[n]
            }
            if conflicts:
                raise ValueError(
                    f"store at {root} already persists constraints with "
                    f"different expressions: {conflicts} (constructor "
                    "value, manifest value); drop the constructor entry "
                    "or change it via add_constraint"
                )
            self._pending_constraint_validation = {
                n: e for n, e in self.constraints.items() if n not in persisted
            }
            self.constraints = {
                **persisted,
                **self.constraints,
            }
            mismatches = {
                field: (getattr(self, field), m[field])
                for field, got in (
                    ("keys", list(self.keys)),
                    ("version_cols", list(self.version_cols)),
                    ("num_buckets", self.num_buckets),
                )
                if m[field] != got
            }
            if mismatches:
                raise ValueError(
                    f"store at {root} was created with different "
                    f"config: {mismatches} (constructor value, manifest "
                    "value); pass the manifest's values to reopen it"
                )

    # -- pointer / manifest plumbing -----------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_latest")

    def current_version(self) -> int | None:
        """Committed version, or None for an empty store."""
        try:
            with open(self._pointer) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:05d}", "manifest.json")

    def _read_manifest(self, version: int) -> dict:
        return _load_manifest(self._manifest_path(version))

    def column_types(self, version: int) -> dict[str, str]:
        """column → Spark simpleString type at ``version``, in column
        order: the manifest's recorded map, with any column it lacks
        (a manifest written before the map was recorded) filled from
        the bucket-dir footers on the driver — no Spark job either
        way. The one type lookup both stores read with."""
        m = self._read_manifest(version)
        cols = m["columns"]
        types = dict(m.get("types") or {})
        missing = set(cols) - set(types)
        if missing:
            dirs = [
                os.path.join(self.root, p)
                for p in sorted(set(m["bucket_paths"].values()))
            ]
            types = {**footer_types(dirs, missing), **types}
        return {c: types[c] for c in cols if c in types}

    def _ddl(self, version: int, extra: str = "") -> str:
        """Explicit read schema of the table at ``version``."""
        return schema_ddl(
            self._read_manifest(version)["columns"],
            self.column_types(version),
            extra,
        )

    def _evolved_flag(self, version: int, columns: list[str]) -> bool:
        """Sticky schema-evolution marker for a commit at ``version``.

        True once any committed column set differs from its
        predecessor's; a manifest predating the flag reads as True
        (conservative: the table may hold mixed-schema dirs).
        """
        if version == 0:
            return False
        try:
            prev = self._read_manifest(version - 1)
        except (FileNotFoundError, ValueError):
            return True
        return bool(prev.get("evolved", True)) or list(
            prev["columns"]
        ) != list(columns)

    def _commit(
        self,
        version: int,
        bucket_paths: dict[int, str],
        columns: list[str],
        stats: dict[int, dict] | None = None,
        change_feed: str | list[str] | None = None,
        blooms: dict[int, dict] | None = None,
        operation: str = "merge",
        op_params: dict | None = None,
        file_stats: dict[int, dict] | None = None,
        dv: dict[int, str] | None = None,
        evolved: bool | None = None,
        types: dict[str, str] | None = None,
    ) -> int:
        vdir = os.path.join(self.root, f"v{version:05d}")
        os.makedirs(vdir, exist_ok=True)
        # the predecessor's type map carried forward, unioned with the
        # types of what this commit wrote (a new column's type comes
        # from its introducing commit; a re-typed one keeps the wider)
        recorded: dict[str, str] = {}
        if version > 0:
            try:
                recorded = self.column_types(version - 1)
            except (FileNotFoundError, ValueError):
                recorded = {}
        for c, t in (types or {}).items():
            recorded[c] = _wider(recorded.get(c), t)
        manifest = {
            "version": version,
            "keys": list(self.keys),
            "version_cols": list(self.version_cols),
            "num_buckets": self.num_buckets,
            # relative dir of this commit's stored change rows (Delta
            # CDF-style), an ORDERED LIST of such dirs for a
            # multi-commit wap_publish (one per branch commit, replay
            # order), or None when the commit wrote no feed
            "change_feed": change_feed,
            # the table schema (column names, stable order): bucket dirs
            # from different versions may carry different physical
            # schemas after an evolution — this is the authoritative set
            "columns": columns,
            # column → Spark simpleString type (the MOR log's form):
            # every scan reads its dirs with this explicit schema — no
            # footer-inference job, and a column an older dir predates
            # reads as a typed NULL (see column_types for manifests
            # written before the map existed)
            "types": {c: recorded[c] for c in columns if c in recorded},
            # STICKY evolution marker: False until some commit changes
            # the column set, True from then on (even through restores —
            # old-schema dirs may stay referenced until every bucket
            # rewrites). The partitioned store's fused scans fuse only
            # never-evolved children.
            # ``evolved`` overrides the derived flag: a CLONE's v0 must
            # inherit the SOURCE manifest's flag (the predecessor chain
            # the derivation walks does not exist in the clone).
            "evolved": (
                self._evolved_flag(version, columns)
                if evolved is None
                else bool(evolved)
            ),
            # JSON keys are strings; normalize on read
            "bucket_paths": {str(k): v for k, v in bucket_paths.items()},
            # per-bucket column [min, max] (footer-derived, JSON-safe
            # types only) — Iceberg-style data skipping for reads with
            # value predicates; absence of a column means "can't prune"
            "stats": {str(k): v for k, v in (stats or {}).items()},
            # per-bucket per-column bloom filters (point-lookup
            # skipping; see _bloom_build) — optional, like stats
            "blooms": {str(k): v for k, v in (blooms or {}).items() if v},
            # per-bucket PER-FILE column [min, max] — recorded by a
            # clustered compact (OPTIMIZE ... ZORDER BY); lets reads
            # skip individual files inside a surviving bucket. A
            # bucket's entry is dropped when a later write rewrites it.
            "file_stats": {
                str(k): v for k, v in (file_stats or {}).items() if v
            },
            # per-bucket DELETION VECTOR (Delta DV-style soft delete):
            # rel path of the parquet dir holding the bucket's deleted
            # PKs. Readers anti-join it; the next rewrite of the bucket
            # materializes the deletes and drops the entry.
            "dv": {str(k): v for k, v in (dv or {}).items() if v},
            # CHECK constraints the table carries (validated per write)
            "constraints": self.constraints,
            # commit provenance (DESCRIBE HISTORY): what wrote this
            # version, with what parameters, when (wall clock, UTC s)
            "operation": operation,
            "op_params": op_params or {},
            "committed_at": __import__("time").time(),
        }
        # optimistic concurrency: O_EXCL manifest creation is the CAS.
        # Two writers that both read version N-1 both target N; exactly
        # one creates N's manifest. The loser REBASES when its write is
        # provably disjoint from everything committed since its base
        # (Delta-style conflict resolution — see _try_rebase), else
        # gets a clean conflict instead of silently stealing the
        # pointer (lost update).
        try:
            fh = open(self._manifest_path(version), "x")
        except FileExistsError:
            committed = self.current_version()
            if committed is not None and committed >= version:
                # a successful rebase commits at a HIGHER version — the
                # caller must return THAT number, not its stale
                # pre-race target (which now names the competitor's
                # commit; pinning or reading it would lose this write)
                rebased_to = self._try_rebase(version, manifest)
                if rebased_to is not None:
                    return rebased_to
            raise ConcurrentWriteConflict(
                f"version {version} already has a manifest (committed "
                f"pointer: {committed}): "
                + (
                    "another writer won this commit with an OVERLAPPING "
                    "footprint — re-read and retry"
                    if committed is not None and committed >= version
                    else "a concurrent writer is mid-commit, or a "
                    "crashed commit left an orphan (clean_orphans() "
                    "removes it if no writer is active)"
                )
            ) from None
        with fh:
            json.dump(manifest, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        self._swap_pointer(version)
        return version

    def _swap_pointer(self, version: int) -> None:
        # the commit point: readers see the new version only after this
        # atomic replace succeeds — with a monotonic fix-up: two racing
        # replaces can land out of order, and a pointer REGRESSION
        # would make the newer committed version look like an orphan
        while True:
            fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_latest.")
            with os.fdopen(fd, "w") as fh:
                fh.write(str(version))
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, self._pointer)
            cur = self.current_version()
            if cur is not None and cur >= version:
                break

    # rebase-safe commits: effects confined to their touched buckets.
    # restore re-pins the WHOLE table (semantic conflict with any
    # concurrent write); rebucket changes the bucket count (every PK
    # moves); clone v0 has no concurrent predecessor.
    _REBASE_SAFE_OPS = frozenset(
        {"merge", "merge_into", "delete", "delete_keys", "compact"}
    )

    def _touched_between(self, older: dict, newer: dict) -> set[int]:
        """Bucket ids whose data dir OR deletion vector differs between
        two manifests — the commit's footprint."""
        a_paths = {int(k): v for k, v in older.get("bucket_paths", {}).items()}
        b_paths = {int(k): v for k, v in newer.get("bucket_paths", {}).items()}
        a_dv = {int(k): v for k, v in older.get("dv", {}).items()}
        b_dv = {int(k): v for k, v in newer.get("dv", {}).items()}
        return {
            b
            for b in set(a_paths) | set(b_paths)
            if a_paths.get(b) != b_paths.get(b) or a_dv.get(b) != b_dv.get(b)
        }

    def _try_rebase(self, version: int, manifest: dict) -> int | None:
        """Delta-style rebase of a CAS-losing commit (VERDICT r8 #6).
        Returns the version the rebased commit landed at, or None when
        the conflict is real (the caller raises).

        The loser's write is replayable on the new head iff (a) its own
        footprint — buckets whose dir or DV it changed vs its BASE
        (version-1) — is disjoint from every bucket any intervening
        commit touched, (b) nobody changed the schema, bucket count, or
        constraints underneath it, and (c) both sides ran rebase-safe
        operations. Then the loser's touched buckets overlay the head's
        manifest verbatim (its rewrites were computed from base state
        those commits provably didn't touch — unique artifact-dir names
        mean the winner's files were never clobbered), and the commit
        retries at head+1. Anything else stays a
        ConcurrentWriteConflict.
        """
        if manifest["operation"] not in self._REBASE_SAFE_OPS:
            return None
        head = self.current_version()
        if head is None or head < version:
            return None
        base_m = (
            {"bucket_paths": {}, "dv": {}}
            if version == 0
            else self._read_manifest(version - 1)
        )
        ours = self._touched_between(base_m, manifest)
        prev = base_m
        for v in range(version, head + 1):
            try:
                m = self._read_manifest(v)
            except (FileNotFoundError, ValueError):
                return None
            if m.get("operation", "merge") not in self._REBASE_SAFE_OPS:
                return None
            if self._touched_between(prev, m) & ours:
                return None
            prev = m
        head_m = prev
        if (
            head_m["num_buckets"] != manifest["num_buckets"]
            or list(head_m["columns"]) != list(manifest["columns"])
            or head_m.get("constraints", {}) != manifest["constraints"]
        ):
            return None
        # overlay OUR footprint onto the head's maps (string keys)
        ours_s = {str(b) for b in ours}
        rebased = dict(head_m)
        for field in ("bucket_paths", "stats", "blooms", "file_stats", "dv"):
            merged = {
                k: v
                for k, v in head_m.get(field, {}).items()
                if k not in ours_s
            }
            merged.update(
                {
                    k: v
                    for k, v in manifest.get(field, {}).items()
                    if k in ours_s
                }
            )
            rebased[field] = merged
        for field in (
            "change_feed",
            "operation",
            "op_params",
            "committed_at",
        ):
            rebased[field] = manifest[field]
        # sticky evolution marker: conservative OR of both lineages
        # (columns are equal, but the flag may be True from history)
        rebased["evolved"] = bool(manifest["evolved"]) or bool(
            head_m.get("evolved", True)
        )
        head_types = head_m.get("types", {})
        rebased["types"] = {
            c: _wider(head_types.get(c), t)
            for c, t in manifest["types"].items()
        }
        rebased["op_params"] = {
            **manifest["op_params"],
            # multi-level recursion must keep the ORIGINAL pre-race
            # base in the lineage record, not the intermediate retry's
            # version (ADVICE r9)
            "rebased_from": manifest["op_params"].get(
                "rebased_from", version
            ),
        }
        rebased["version"] = head + 1
        os.makedirs(
            os.path.join(self.root, f"v{head + 1:05d}"), exist_ok=True
        )
        try:
            fh = open(self._manifest_path(head + 1), "x")
        except FileExistsError:
            # someone landed head+1 meanwhile: recurse one level up
            return self._try_rebase(head + 1, rebased)
        with fh:
            json.dump(rebased, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        self._swap_pointer(head + 1)
        return head + 1

    def _bucket_paths(self, version: int) -> dict[int, str]:
        m = self._read_manifest(version)
        return {int(k): v for k, v in m["bucket_paths"].items()}

    @staticmethod
    def _file_column_stats(path: str) -> dict[str, list]:
        """Footer-derived per-column [min, max] for ONE parquet file.

        Parquet row groups already carry exact min/max; aggregating the
        footer is metadata-speed (no data scan, no extra Spark job).
        Only JSON-safe, order-preserving types (int/float/str/bool) are
        recorded; a column any row group lacks stats for is dropped —
        absence means "can't prune", never "wrong prune".
        """
        import pyarrow.parquet as pq

        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        dropped: set[str] = set()
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                col = rgm.column(ci)
                name = col.path_in_schema
                if name in dropped:
                    continue
                st = col.statistics
                if (
                    st is None
                    or not st.has_min_max
                    or not isinstance(st.min, (int, float, str, bool))
                    or not isinstance(st.max, (int, float, str, bool))
                ):
                    dropped.add(name)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    continue
                mins[name] = (
                    st.min if name not in mins else min(mins[name], st.min)
                )
                maxs[name] = (
                    st.max if name not in maxs else max(maxs[name], st.max)
                )
        return {name: [mins[name], maxs[name]] for name in mins}

    def _dir_file_stats(self, rel_dir: str) -> dict[str, dict]:
        """Per-FILE column stats for one bucket dir — what a clustered
        compact records so reads can skip individual files whose
        min/max box misses the predicate (Delta OPTIMIZE ZORDER's
        payoff; the dir-level rollup alone can't skip inside a
        bucket)."""
        abs_dir = os.path.join(self.root, rel_dir)
        return {
            fname: self._file_column_stats(os.path.join(abs_dir, fname))
            for fname in sorted(os.listdir(abs_dir))
            if fname.endswith(".parquet")
        }

    def _dir_column_stats(self, rel_dir: str) -> dict[str, list]:
        """Footer-derived per-column [min, max] over one bucket dir —
        the bucket-level rollup of :meth:`_file_column_stats` (a column
        gets dir bounds only when EVERY file records it)."""
        per_file = list(self._dir_file_stats(rel_dir).values())
        if not per_file:
            return {}
        common = set(per_file[0])
        for fs in per_file[1:]:
            common &= set(fs)
        return {
            c: [
                min(fs[c][0] for fs in per_file),
                max(fs[c][1] for fs in per_file),
            ]
            for c in common
        }

    def _prior_file_stats(
        self, cur_version: int | None, touched=()
    ) -> dict[int, dict]:
        """Carry the previous version's per-file stats for buckets this
        commit does NOT rewrite (rewritten dirs' entries are stale)."""
        if cur_version is None:
            return {}
        fs = {
            int(k): v
            for k, v in self._read_manifest(cur_version)
            .get("file_stats", {})
            .items()
        }
        return {b: v for b, v in fs.items() if b not in touched}

    # -- deletion vectors (Delta DV-style soft deletes) -----------------

    def _dv_entries(self, version: int | None) -> dict[int, str]:
        """{bucket: rel dv dir} at a version (empty pre-DV manifests)."""
        if version is None:
            return {}
        return {
            int(k): v
            for k, v in self._read_manifest(version).get("dv", {}).items()
        }

    def _prior_dv(
        self, cur_version: int | None, touched=()
    ) -> dict[int, str]:
        """Carry DV entries for buckets this commit does NOT rewrite; a
        rewritten bucket materialized its deletes (its rewrite read was
        DV-filtered), so its entry drops."""
        return {
            b: v
            for b, v in self._dv_entries(cur_version).items()
            if b not in touched
        }

    def _apply_dv(
        self,
        spark: SparkSession,
        df: DataFrame,
        version: int | None,
        buckets=None,
    ) -> DataFrame:
        """Filter out DV-deleted rows: anti-join the version's deleted
        PKs (restricted to ``buckets`` when given — extra DV keys are
        harmless but cost I/O). Null-safe on the PK, matching the
        store's PK semantics everywhere else."""
        entries = self._dv_entries(version)
        if buckets is not None:
            entries = {b: v for b, v in entries.items() if b in buckets}
        if not entries:
            return df
        dv = (
            self._read_keys(
                spark,
                [
                    os.path.join(self.root, rel)
                    for rel in sorted(set(entries.values()))
                ],
                version,
            )
            .select(
                *[F.col(k).alias(f"__dv_{k}") for k in self.keys]
            )
            .dropDuplicates()
        )
        cond = [
            F.col(k).eqNullSafe(F.col(f"__dv_{k}")) for k in self.keys
        ]
        # vectors are small by design (deleted PKs, not rows):
        # broadcast so the anti-join never shuffles the data side
        return df.join(F.broadcast(dv), cond, "left_anti")

    def _read_keys(
        self, spark: SparkSession, dirs: list[str], version: int
    ) -> DataFrame:
        """PK-only read of deletion-vector dirs, typed at ``version``."""
        return spark.read.schema(
            schema_ddl(self.keys, self.column_types(version))
        ).parquet(*dirs)

    def _dv_count(self, version: int) -> int:
        """Footer row count over the version's DV entries (each DV dir
        holds DISTINCT deleted PKs, so the sum is exact)."""
        import pyarrow.parquet as pq

        total = 0
        for rel in set(self._dv_entries(version).values()):
            d = os.path.join(self.root, rel)
            for fname in os.listdir(d):
                if fname.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(d, fname)
                    ).metadata.num_rows
        return total

    def _out_dir_blooms(
        self, spark: SparkSession, out_dir: str
    ) -> dict[int, dict[str, dict]]:
        """Per-bucket per-column bloom filters for one just-written
        ``partitionBy(__bucket)`` output dir — built EXECUTOR-SIDE.

        One column-pruned Spark job over the written files: each input
        partition folds its rows into fixed-width partial bitmaps
        (``mapInArrow`` — the same to_pylist value canonicalization the
        old driver-side pyarrow pass used, so the bitmaps are
        bit-identical), and the driver ORs the ≤ partitions × columns
        partial bitmaps per (bucket, column). Driver work and memory
        are O(partitions × 16 KiB) — FLAT in rows written, where the
        former per-bucket ``pq.read_table(...).to_pylist()`` loop grew
        with bucket size and serialized the ingest path through the
        driver (round-10 VERDICT #1). Uniform (m, k) is preserved, so
        partition-level rollups still compose via ``_bloom_or``.

        A column that is all-null or carries an unhashable type in ANY
        partial poisons that (bucket, column) — the bloom is simply
        absent, which means "can't prune", never "wrong prune".

        The per-partition partials are reduced EXECUTOR-side before the
        driver sees anything (round-11 review finding): each partial is
        2,048 int64 words, a posexplode + per-word ``bit_or`` aggregate
        ORs them across partitions, and a second aggregate reassembles
        one word array per (bucket, column) — so the driver collects
        ≤ buckets × columns bitmaps regardless of rows OR partitions
        written (a 1 TB commit would otherwise collect ~2,000 partials
        per column).
        """
        return self._out_dirs_blooms(
            spark, {"": out_dir}, self.bloom_cols
        ).get("", {})

    @classmethod
    def _out_dirs_blooms(
        cls,
        spark: SparkSession,
        out_dirs: dict[str, str],
        bloom_cols: tuple[str, ...],
    ) -> dict[str, dict[int, dict[str, dict]]]:
        """:meth:`_out_dir_blooms` over MANY output dirs in ONE Spark
        job, keyed by a caller-chosen tag — {tag: {bucket: {col:
        bloom}}} (VERDICT r11 #1).

        A partitioned-table merge touching W children used to pay the
        bloom job's FIXED cost (job launch + two metadata shuffles +
        output re-read) once per child commit — the q164 2.9×
        regression. Here each dir's scan is tagged with a literal and
        unioned, so the mapInArrow fold, the word-wise ``bit_or``
        reduction, and the driver collect all run once, keyed
        (tag, bucket, col). Per-(bucket, col) bitmaps are BIT-IDENTICAL
        to the per-dir build (same value canonicalization, same hash
        positions; OR is order-free) — asserted by
        scripts/bloom_scale_check.py.

        A dir whose listing has no bucket subdirs contributes nothing;
        a column absent from one dir's schema null-fills through the
        union and simply yields no bloom for that dir's buckets —
        exactly the single-dir "can't prune" behavior.
        """
        if not bloom_cols:
            return {}
        live = {
            tag: d
            for tag, d in out_dirs.items()
            if os.path.isdir(d)
            and any(e.startswith(f"{_BUCKET}=") for e in os.listdir(d))
        }
        if not live:
            return {}
        total = 0
        limit = _bloom_driver_max_bytes()
        for d in live.values():
            for dirpath, _dirs, files in os.walk(d):
                for fname in files:
                    if fname.endswith(".parquet"):
                        total += os.path.getsize(
                            os.path.join(dirpath, fname)
                        )
        if total <= limit:
            return cls._dirs_blooms_driver(live, bloom_cols)
        parts = []
        all_cols: list[str] = []
        for tag in sorted(live):
            d = live[tag]
            types = footer_types(
                [
                    os.path.join(d, e)
                    for e in sorted(os.listdir(d))
                    if e.startswith(f"{_BUCKET}=")
                ],
                bloom_cols,
            )
            cols = [c for c in bloom_cols if c in types]
            if not cols:
                continue
            df = spark.read.schema(
                schema_ddl(cols, types, f"`{_BUCKET}` int")
            ).parquet(d)
            for c in cols:
                if c not in all_cols:
                    all_cols.append(c)
            parts.append(
                df.select(
                    F.lit(tag).alias("__tag"),
                    F.col(_BUCKET).cast("int").alias(_BUCKET),
                    *cols,
                )
            )
        if not parts:
            return {}
        src = parts[0]
        for p in parts[1:]:
            src = src.unionByName(p, allowMissingColumns=True)
        cols = all_cols
        m, k = _BLOOM_MAX_BITS, _BLOOM_K
        nbytes = (m + 7) // 8

        def partial_bitmaps(batches):
            import pyarrow as pa

            # (tag, bucket, col) -> bytearray | None(=poison)
            acc: dict = {}
            for rb in batches:
                names = rb.schema.names
                tags = rb.column("__tag").to_pylist()
                buckets = rb.column(_BUCKET).to_pylist()
                for c in cols:
                    if c not in names:
                        continue
                    vals = rb.column(c).to_pylist()
                    for t, b, v in zip(tags, buckets, vals):
                        if v is None:
                            continue
                        key = (t, b, c)
                        bits = acc.get(key, False)
                        if bits is None:
                            continue
                        if bits is False:
                            bits = bytearray(nbytes)
                            acc[key] = bits
                        try:
                            for pos in _bloom_positions(v, m, k):
                                bits[pos >> 3] |= 1 << (pos & 7)
                        except TypeError:
                            acc[key] = None

            def _words(bits: bytearray) -> list[int]:
                out = []
                for j in range(0, nbytes, 8):
                    w = int.from_bytes(bits[j : j + 8], "little")
                    out.append(w - (1 << 64) if w >= 1 << 63 else w)
                return out

            yield pa.RecordBatch.from_pydict(
                {
                    "tag": pa.array([t for t, _, _ in acc]),
                    "bucket": pa.array(
                        [b for _, b, _ in acc], type=pa.int32()
                    ),
                    "col": pa.array([c for _, _, c in acc]),
                    "words": pa.array(
                        [
                            None if v is None else _words(v)
                            for v in acc.values()
                        ],
                        type=pa.list_(pa.int64()),
                    ),
                }
            )

        partials = src.mapInArrow(
            partial_bitmaps,
            "tag string, bucket int, col string, words array<bigint>",
        )
        # poisoned partials carry NULL words; posexplode_outer keeps
        # them as an (i=NULL, w=NULL) row so the poison survives the
        # word-wise OR and flags the group below
        exploded = partials.select(
            "tag",
            "bucket",
            "col",
            F.posexplode_outer("words").alias("i", "w"),
        )
        reduced = exploded.groupBy("tag", "bucket", "col", "i").agg(
            F.bit_or("w").alias("w")
        )
        rows = (
            reduced.groupBy("tag", "bucket", "col")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda s: s["w"],
                ).alias("words"),
                F.max(F.col("i").isNull()).alias("poisoned"),
            )
            .collect()
        )
        by_tag: dict[str, list] = {}
        for r in rows:
            by_tag.setdefault(r.tag, []).append(r)
        return {
            tag: cls._fold_bloom_rows(tagged, m, k)
            for tag, tagged in by_tag.items()
        }

    @classmethod
    def _dirs_blooms_driver(
        cls,
        live: dict[str, str],
        bloom_cols: tuple[str, ...],
    ) -> dict[str, dict[int, dict[str, dict]]]:
        """Small-commit fast path of :meth:`_out_dirs_blooms`: one
        driver-side pyarrow pass over the just-written bucket files —
        no Spark job, no shuffles, no collect.

        Only reachable when the commit's parquet bytes are at most
        ``SPARK_GRAFT_BLOOM_DRIVER_MAX_BYTES`` (default 64 MiB), so
        driver work and memory are bounded by the threshold, never by
        the table. Bitmaps are BIT-IDENTICAL to the distributed build:
        both fold ``to_pylist()`` values through ``_bloom_positions``
        at the uniform (m, k), and both yield no bloom for a (bucket,
        column) that is all-null, schema-absent, or carries an
        unhashable type (``_bloom_build`` returns None on either).
        """
        import base64

        import pyarrow.parquet as pq

        out: dict[str, dict[int, dict[str, dict]]] = {}
        for tag in sorted(live):
            d = live[tag]
            buckets: dict[int, dict[str, dict]] = {}
            for entry in sorted(os.listdir(d)):
                if not entry.startswith(f"{_BUCKET}="):
                    continue
                bdir = os.path.join(d, entry)
                if not os.path.isdir(bdir):
                    continue
                b = int(entry.split("=", 1)[1])
                # fold positions per FILE straight into the bitmaps:
                # peak driver heap is one file's column values, never
                # the bucket's concatenation (string-heavy data could
                # inflate the latter far past what the compressed-byte
                # threshold suggests — round-14 ADVICE). Same result
                # as _bloom_build over the concatenation: None when no
                # value was hashable (all-null, schema-absent, or a
                # TypeError'ing unhashable type), bit-identical bits
                # otherwise.
                m = _BLOOM_MAX_BITS
                bits: dict[str, bytearray] = {
                    c: bytearray((m + 7) // 8) for c in bloom_cols
                }
                n_vals = {c: 0 for c in bloom_cols}
                bad: set[str] = set()
                for fname in sorted(os.listdir(bdir)):
                    if not fname.endswith(".parquet"):
                        continue
                    fp = os.path.join(bdir, fname)
                    names = set(
                        pq.ParquetFile(fp).schema_arrow.names
                    )
                    cols = [
                        c
                        for c in bloom_cols
                        if c in names and c not in bad
                    ]
                    if not cols:
                        continue
                    tbl = pq.read_table(fp, columns=cols)
                    for c in cols:
                        bm = bits[c]
                        try:
                            for v in tbl.column(c).to_pylist():
                                if v is None:
                                    continue
                                n_vals[c] += 1
                                for pos in _bloom_positions(
                                    v, m, _BLOOM_K
                                ):
                                    bm[pos >> 3] |= 1 << (pos & 7)
                        except TypeError:
                            bad.add(c)
                cm = {}
                for c in sorted(bloom_cols):
                    if c in bad or not n_vals[c]:
                        continue
                    cm[c] = {
                        "m": m,
                        "k": _BLOOM_K,
                        "bits": base64.b64encode(
                            bytes(bits[c])
                        ).decode(),
                    }
                if cm:
                    buckets[b] = cm
            if buckets:
                out[tag] = buckets
        return out

    @staticmethod
    def _fold_bloom_rows(rows, m: int, k: int) -> dict[int, dict[str, dict]]:
        """Repack the executor-reduced word arrays into the manifest's
        bloom dicts — the only DRIVER-side step of the bloom build,
        O(buckets × bloom columns × 16 KiB) regardless of rows or
        partitions written (measured flat vs store size in
        scripts/bloom_scale_check.py)."""
        import base64

        out: dict[int, dict[str, dict]] = {}
        for r in rows:
            if r.poisoned:
                continue
            bits = b"".join(
                (w & ((1 << 64) - 1)).to_bytes(8, "little")
                for w in r.words
            )
            out.setdefault(int(r.bucket), {})[r.col] = {
                "m": m,
                "k": k,
                "bits": base64.b64encode(bits).decode(),
            }
        return out

    def _pruned_bucket_paths(
        self, version: int, where: dict[str, tuple] | None
    ) -> dict[int, str]:
        """Bucket paths surviving min/max pruning for ``where``.

        ``where`` maps column → (lo, hi) closed range (either bound may
        be None). A bucket is skipped only when its recorded stats prove
        no row can satisfy EVERY range; buckets without stats for a
        column always survive.
        """
        paths = self._bucket_paths(version)
        if not where:
            return paths
        manifest = self._read_manifest(version)
        stats = {int(k): v for k, v in manifest.get("stats", {}).items()}
        blooms = {int(k): v for k, v in manifest.get("blooms", {}).items()}
        out = {}
        for b, p in paths.items():
            bstats = stats.get(b, {})
            bblooms = blooms.get(b, {})
            keep = True
            for col, (lo, hi) in where.items():
                if col in bstats:
                    mn, mx = bstats[col]
                    if (hi is not None and mn > hi) or (
                        lo is not None and mx < lo
                    ):
                        keep = False
                        break
                # a point lookup (lo == hi) additionally consults the
                # bucket's bloom — the min/max of a hash-scattered
                # column spans ~the full domain and never prunes it
                if (
                    lo is not None
                    and lo == hi
                    and col in bblooms
                    and not _bloom_maybe_contains(bblooms[col], lo)
                ):
                    keep = False
                    break
            if keep:
                out[b] = p
        return out

    def _pruned_files(
        self, version: int, where: dict[str, tuple] | None
    ) -> dict[int, list[str]]:
        """Absolute data-file paths surviving BOTH pruning levels:
        bucket min/max/bloom (``_pruned_bucket_paths``) and, where a
        clustered compact recorded per-file stats, file-level min/max
        boxes. A file without a recorded entry always survives —
        absence means "can't prune"."""
        pruned_dirs = self._pruned_bucket_paths(version, where)
        fstats = {
            int(k): v
            for k, v in self._read_manifest(version)
            .get("file_stats", {})
            .items()
        }
        out: dict[int, list[str]] = {}
        for b, rel in pruned_dirs.items():
            d = os.path.join(self.root, rel)
            fs = fstats.get(b, {})
            keep = []
            for fname in sorted(os.listdir(d)):
                if not fname.endswith(".parquet"):
                    continue
                st = fs.get(fname)
                skip = False
                if st and where:
                    for col, (lo, hi) in where.items():
                        if col in st:
                            mn, mx = st[col]
                            if (hi is not None and mn > hi) or (
                                lo is not None and mx < lo
                            ):
                                skip = True
                                break
                if not skip:
                    keep.append(os.path.join(d, fname))
            out[b] = keep
        return out

    def files_read(
        self,
        version: int | None = None,
        where: dict[str, tuple] | None = None,
    ) -> int:
        """How many data files a :meth:`read` with this scope opens —
        the pruning evidence (footers + listing, no data I/O), with
        bucket-level AND per-file (clustered) pruning applied."""
        v = self.current_version() if version is None else version
        if v is None:
            return 0
        return sum(len(fl) for fl in self._pruned_files(v, where).values())

    # -- read side ------------------------------------------------------

    def _read_aligned(
        self, spark: SparkSession, paths: list[str], version: int
    ) -> DataFrame:
        """Read bucket dirs with the manifest's recorded schema: the
        manifest's column order and types, passed to the reader.

        No footer-inference job runs, and after a schema evolution a
        dir written earlier presents each column it lacks as a NULL of
        the column's REAL type — a read restricted to ONLY
        pre-evolution dirs (pruned read, or a merge touching only old
        buckets) still has the manifest's schema, and an untyped
        NullType never reaches the parquet writer on the next rewrite.
        """
        return spark.read.schema(self._ddl(version)).parquet(*paths)

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: dict[str, tuple] | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot read (optionally time-traveled to an older version).

        Time travel addresses a snapshot by ``version`` or by
        ``timestamp`` (epoch seconds — the newest commit at or before
        it, Delta's timestampAsOf), mutually exclusive. ``where``
        (column → (lo, hi) closed range) both prunes bucket dirs via
        the manifest's min/max stats — files whose stats prove
        emptiness are never opened — and applies the residual range
        filter to the returned rows, so the result is exactly the
        filtered snapshot. Raises on an empty store (no schema to
        synthesize).
        """
        if timestamp is not None:
            if version is not None:
                raise ValueError(
                    "pass either version or timestamp, not both"
                )
            version = self.version_at(timestamp)
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty merge store: {self.root}")
        if where and self._read_manifest(v).get("file_stats"):
            # a clustered compact recorded per-file boxes: open only
            # the files whose box intersects the predicate
            paths = sorted(
                p
                for fl in self._pruned_files(v, where).values()
                for p in fl
            )
        else:
            paths = sorted(
                os.path.join(self.root, p)
                for p in set(self._pruned_bucket_paths(v, where).values())
            )
        if not paths:
            # stats prove the result empty; synthesize the schema from
            # any live dir without scanning it for rows
            paths = [
                os.path.join(self.root, p)
                for p in sorted(set(self._bucket_paths(v).values()))[:1]
            ]
        # expired-version guard: retention (keep_last / older_than)
        # removes data dirs but keeps manifests <= pointer, so an
        # expired snapshot must fail up front with the descriptive
        # error, not die mid-scan with a parquet path error
        self._guard_vacuumed(paths, v)
        # the recorded schema: buckets written before an evolution
        # read the columns they lack as typed nulls
        df = self._read_aligned(spark, paths, v)
        # deletion vectors: soft-deleted PKs anti-join out
        df = self._apply_dv(spark, df, v)
        return apply_where_ranges(df, where)

    def probe(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        version: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """PK-bucket-pruned point read: the stored rows whose full PK
        appears in ``keys_df``, reading ONLY the bucket dirs the probe
        keys hash to.

        The probe keys' bucket set is a metadata-sized collect (the
        same distinct-agg a merge already does to find its touched
        buckets, ≤ num_buckets ints) — so a small batch probing a huge
        store reads (batch's buckets / num_buckets) of it, never the
        table. This is what makes per-micro-batch admission checks in
        the streaming-maintenance paths o(index): the LWW watermark
        lookup costs the batch's buckets of a one-row-per-key side
        store instead of a full-index scan + shuffle (VERDICT r8 #4).
        DV-deleted rows are filtered exactly as in :meth:`read`.

        Probe keys are cast to the STORED PK types before bucketing:
        ``F.hash`` is type-sensitive (hash(int 5) != hash(bigint 5)),
        so a type-drifted key frame would silently hash to the wrong
        bucket and report present rows absent (ADVICE r9).

        ``buckets`` (pre-computed bucket ids for the whole batch) skips
        the per-store collect — the partitioned store's table-level
        probe computes (partition, bucket) pairs for the ENTIRE key
        batch in one job and hands each child its slice, so a K-
        partition probe costs one driver job, not K+1 sequential ones.
        """
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty merge store: {self.root}")
        paths = self._bucket_paths(v)
        if not paths:
            # a zero-bucket commit (e.g. an all-empty first batch):
            # there is no file to derive a schema from — surface that
            # instead of handing spark.read.parquet an empty path list
            raise ValueError(
                f"store at {self.root} has no data buckets at v{v}; "
                "nothing to probe"
            )
        # probe keys cast to the stored PK types (recorded in the
        # manifest; PK columns never retype under schema evolution)
        stored = self.column_types(v)
        in_types = {
            f.name: f.dataType.simpleString() for f in keys_df.schema.fields
        }
        keys = keys_df.select(
            *[
                F.col(c).cast(stored[c]).alias(c)
                if in_types.get(c) != stored[c]
                else F.col(c)
                for c in self.keys
            ]
        ).distinct()
        if buckets is not None:
            touched = sorted({int(b) for b in buckets})
        else:
            touched = sorted(
                r[0]
                for r in keys.select(
                    self._bucket_expr().alias(_BUCKET)
                )
                .distinct()
                .collect()
            )
        hit = [b for b in touched if b in paths]
        if not hit:
            # no probe key's bucket exists: schema-only empty frame
            any_dir = [
                os.path.join(self.root, p)
                for p in sorted(set(paths.values()))[:1]
            ]
            self._guard_vacuumed(any_dir, v)
            return self._read_aligned(spark, any_dir, v).limit(0)
        hit_paths = sorted(
            os.path.join(self.root, paths[b]) for b in set(hit)
        )
        self._guard_vacuumed(hit_paths, v)
        df = self._read_aligned(spark, hit_paths, v)
        df = self._apply_dv(spark, df, v, buckets=hit)
        return df.join(keys, list(self.keys), "left_semi")

    def history(self) -> list[int]:
        vs = []
        for d in os.listdir(self.root):
            if d.startswith("v") and d[1:].isdigit():
                if os.path.exists(self._manifest_path(int(d[1:]))):
                    vs.append(int(d[1:]))
        return sorted(vs)

    # -- write side -----------------------------------------------------

    def has_data(self) -> bool:
        """True once any version is committed — the store-polymorphic
        emptiness test (MergeOnReadStore implements the same contract),
        so callers like the maintenance appliers never branch on store
        type to ask 'is there anything here yet?'."""
        return self.current_version() is not None

    def table_columns(self) -> list[str] | None:
        """The committed column order (None when empty) — the
        store-polymorphic twin of the manifest lookup, shared contract
        with MergeOnReadStore."""
        cur = self.current_version()
        if cur is None:
            return None
        return list(self._read_manifest(cur)["columns"])

    def _guard_vacuumed(self, paths: list[str], v: int) -> None:
        """Raise the descriptive expired-version error up front when any
        referenced path is missing — retention (keep_last / older_than)
        removes data dirs but keeps manifests <= pointer, and every
        read path (read, probe) must fail with this, never an opaque
        mid-plan PATH_NOT_FOUND."""
        gone = [p for p in paths if not os.path.exists(p)]
        if gone:
            raise ValueError(
                f"version {v} was vacuumed: referenced path "
                f"{gone[0]} is missing (expired by keep_last/"
                "older_than retention)"
            )

    @staticmethod
    def bucket_expr(keys: tuple[str, ...], num_buckets: int):
        """THE bucket-routing expression: pmod(hash(*pk), num_buckets).

        Single definition shared by every level that routes or prunes
        by bucket — the table-level probe hands children pre-computed
        bucket ids, which are only correct while both levels hash
        identically, so neither may inline its own copy (a seed/order/
        normalization change in one would silently slice the wrong
        buckets and report present rows absent)."""
        return F.pmod(
            F.hash(*[F.col(c) for c in keys]), F.lit(num_buckets)
        )

    def _bucket_expr(self):
        return self.bucket_expr(self.keys, self.num_buckets)

    # a sub-threshold commit (store bytes + batch plan stats) runs its
    # actions under the minimal single-partition non-adaptive plan; big
    # or unknown inputs keep the session's AQE/scale posture. See
    # tuning.py — the per-job fixed-cost floor profiled in BASELINE.md.
    @scoped_store_op("upserts")
    def merge(
        self,
        upserts: DataFrame,
        allow_schema_evolution: bool = False,
        conditional: bool = False,
        write_change_feed: bool = False,
    ) -> int:
        """Replace-by-PK merge; returns the committed version number.

        1. collapse the batch to one row per PK (LWW by version_cols —
           the reference's last-occurrence-wins ReplaceOne stream);
        2. route rows to PK-hash buckets; only those buckets rewrite;
        3. current ∪ upserts for touched buckets, upsert wins per PK
           (unconditional replace — ReplaceOne semantics);
        4. write new bucket dirs, commit manifest + pointer atomically.

        ``allow_schema_evolution`` unions by name with missing columns
        permitted (Delta-style mergeSchema): columns new in the batch
        backfill null on stored rows, columns absent from the batch
        stay null on its rows. Mongo needs no flag here — documents are
        schemaless — so the loose mode is the R14-faithful one; the
        strict default exists because a silently-widening 100 TB table
        is usually a bug, not an intent. Key and version columns must
        always be present.

        ``conditional=True`` switches step 3 from unconditional
        ReplaceOne to **only-if-newer**: the surviving row per PK is the
        max by ``version_cols`` over (stored row ∪ batch row), batch
        winning ties. This is Mongo's guarded
        ``ReplaceOne({pk, version < new_version})`` pattern and makes
        the final state independent of batch arrival order — the
        property that lets an out-of-order or replayed streaming
        ingest (foreachBatch re-delivery after a crash) converge to the
        same snapshot. Null version values sort last (lose). The extra
        cost is nothing: the same PK window, one more sort key.

        ``write_change_feed=True`` additionally materializes this
        commit's change rows (insert / update_preimage /
        update_postimage, Delta CDF naming) under ``changes/v{N}`` and
        records the path in the manifest. The rows are derived from
        the SAME ranked frame the merge already computes — one extra
        filter-join over the touched buckets, no second table scan —
        and :meth:`change_feed` then serves incremental consumers in
        O(Δ) reads. ``changes_between`` (snapshot diffing) remains the
        fallback for commits written without a feed; at 100 TB the
        stored feed is the difference between "read the day's changes"
        and "re-read every bucket the day touched".
        """
        pending = self._merge_prepare(
            upserts,
            allow_schema_evolution=allow_schema_evolution,
            conditional=conditional,
            write_change_feed=write_change_feed,
        )
        return self._merge_commit(
            pending,
            self._out_dir_blooms(
                upserts.sparkSession, pending["out_dir"]
            ),
        )

    def _merge_prepare(
        self,
        upserts: DataFrame,
        allow_schema_evolution: bool = False,
        conditional: bool = False,
        write_change_feed: bool = False,
        touched: list[int] | None = None,
    ) -> dict:
        """Data phase of :meth:`merge`: collapse, route, rewrite the
        touched buckets into a new data dir — everything except the
        bloom build and the manifest commit. Returns the pending-commit
        state for :meth:`_merge_commit`.

        Split out (VERDICT r11 #1) so a partitioned-table merge can
        prepare ALL touched children, build every child's blooms in ONE
        Spark job over their just-written output dirs, then commit each
        child — instead of paying the bloom job's fixed cost (job
        launch + two metadata shuffles + output re-read) once per
        child. A crash between prepare and commit leaves only
        unreferenced data dirs (vacuum reclaims them); no manifest is
        written here.

        ``touched`` (the batch's distinct bucket ids) lets a caller
        that already computed the routing — the partitioned merge
        derives every child's touched set from ONE distinct job over
        the whole batch — skip this method's own distinct-collect,
        which is otherwise a per-child fixed-cost Spark job. The set
        must be EXACTLY :meth:`bucket_expr` over the same rows: a
        subset would drop batch rows from the rewrite; a superset
        would reference output dirs the write never produced.
        """
        from parquet_demo_spark.sources.mongo import collapse_for_upsert

        missing = [
            c
            for c in (*self.keys, *self.version_cols)
            if c not in upserts.columns
        ]
        if missing:
            raise ValueError(f"upsert batch lacks key/version cols {missing}")

        spark = upserts.sparkSession
        batch = collapse_for_upsert(upserts, self.keys, self.version_cols)

        # schema check against the MANIFEST, not incidentally via the
        # union below: a drifting batch whose keys all land in untouched
        # buckets would otherwise slip through and leave heterogeneous
        # bucket schemas behind a strict-mode store
        cur_version = self.current_version()
        if cur_version is None:
            columns = list(batch.columns)
        else:
            stored = self._read_manifest(cur_version)["columns"]
            if set(batch.columns) != set(stored):
                if not allow_schema_evolution:
                    raise ValueError(
                        "schema drift: batch columns "
                        f"{sorted(set(batch.columns) ^ set(stored))} differ "
                        "from the store's; pass allow_schema_evolution=True "
                        "for Delta-style mergeSchema behavior"
                    )
                columns = list(stored) + [
                    c for c in batch.columns if c not in stored
                ]
            else:
                columns = list(stored)

        batch = batch.withColumn(_BUCKET, self._bucket_expr())

        if touched is None:
            if cur_version is None:
                # initial commit: no prior buckets to align-read, so
                # the touched set is only needed for the manifest —
                # derive it AFTER the write from the produced
                # ``__bucket=`` dirs (a listdir) instead of paying a
                # distinct-collect Spark job. The written dirs are by
                # construction exactly ``bucket_expr`` over the batch.
                touched = None
            else:
                # the touched-bucket set is ≤ num_buckets ints — a
                # driver-side collect of an aggregate, not of data
                touched = sorted(
                    r[0]
                    for r in batch.select(_BUCKET).distinct().collect()
                )
        else:
            touched = sorted(int(b) for b in touched)
        prior = {} if cur_version is None else self._bucket_paths(cur_version)

        existing_touched = (
            []
            if touched is None
            else [
                os.path.join(self.root, prior[b])
                for b in touched
                if b in prior
            ]
        )
        if existing_touched:
            # aligned read: touched buckets may carry different physical
            # schemas after an evolution (pre-evolution dirs lack the
            # new columns). A plain read would adopt ONE file's schema
            # and silently drop the other files' evolved columns from
            # the rewrite — losing stored values while the manifest
            # still declares the column. DV filtering materializes any
            # soft deletes into this rewrite (their entries drop at
            # commit), and keeps deleted PKs from resurrecting as
            # "stored" rows.
            current = self._apply_dv(
                spark,
                self._read_aligned(spark, existing_touched, cur_version),
                cur_version,
                buckets=[b for b in touched if b in prior],
            ).withColumn(_BUCKET, self._bucket_expr())
            combined = batch.withColumn(
                _FROM_UPSERT, F.lit(1)
            ).unionByName(
                current.withColumn(_FROM_UPSERT, F.lit(0)),
                allowMissingColumns=allow_schema_evolution,
            )
            if conditional:
                # only-if-newer: version_cols decide, batch wins ties
                # (desc puts nulls last, so a null version never beats
                # a real one)
                order = [
                    F.col(c).desc() for c in self.version_cols
                ] + [F.col(_FROM_UPSERT).desc()]
            else:
                # upsert beats stored row on the same PK, regardless of
                # version order — ReplaceOne is an unconditional replace
                order = [F.col(_FROM_UPSERT).desc()]
            w = Window.partitionBy(*self.keys).orderBy(*order)
            ranked = combined.withColumn("__rn", F.row_number().over(w))
            if write_change_feed:
                # the feed write and the data write both consume the
                # ranked frame; cache it so the PK window's shuffle
                # runs once, not twice
                ranked = ranked.persist()
            combined = ranked.filter(F.col("__rn") == 1).drop(
                "__rn", _FROM_UPSERT
            )
        else:
            ranked = None
            combined = batch

        new_version = 0 if cur_version is None else cur_version + 1
        rel_changes = None
        if write_change_feed:
            feed = self._derive_changes(ranked, batch, columns)
            rel_changes = os.path.join("changes", f"v{new_version:05d}-{_writer_token()}")
            feed.write.mode("overwrite").parquet(
                os.path.join(self.root, rel_changes)
            )
        rel_data = os.path.join("data", f"v{new_version:05d}-{_writer_token()}")
        out_dir = os.path.join(self.root, rel_data)
        # invariant holds inductively: untouched buckets passed this
        # check when they were written, so validating only the rows
        # being materialized now covers the whole table
        self._validate_constraints(combined.drop(_BUCKET), "merge")
        # one partition-parallel write; bucket dirs appear as partition
        # subdirectories (__bucket=K) we then reference individually
        combined.write.mode("overwrite").partitionBy(_BUCKET).parquet(out_dir)
        if ranked is not None and write_change_feed:
            ranked.unpersist()
        if touched is None:  # deferred initial-commit derivation
            touched = sorted(
                int(e.split("=", 1)[1])
                for e in os.listdir(out_dir)
                if e.startswith(f"{_BUCKET}=")
            )
        return {
            "new_version": new_version,
            "out_dir": out_dir,
            "rel_data": rel_data,
            "rel_changes": rel_changes,
            "touched": touched,
            "prior": prior,
            "columns": columns,
            "types": _simple_types(combined, columns),
            "cur_version": cur_version,
            "conditional": conditional,
            "allow_schema_evolution": allow_schema_evolution,
        }

    def _merge_commit(
        self, pending: dict, new_blooms: dict[int, dict[str, dict]]
    ) -> int:
        """Commit phase of :meth:`merge`: fold the (externally built)
        touched-bucket blooms and prior-version carries into the
        manifest and swap the pointer. Metadata-only — no Spark job."""
        cur_version = pending["cur_version"]
        touched = pending["touched"]
        rel_data = pending["rel_data"]
        bucket_paths = dict(pending["prior"])
        prior_stats = (
            {}
            if cur_version is None
            else {
                int(k): v
                for k, v in self._read_manifest(cur_version)
                .get("stats", {})
                .items()
            }
        )
        stats = {b: s for b, s in prior_stats.items() if b not in touched}
        prior_blooms = (
            {}
            if cur_version is None
            else {
                int(k): v
                for k, v in self._read_manifest(cur_version)
                .get("blooms", {})
                .items()
            }
        )
        blooms = {b: s for b, s in prior_blooms.items() if b not in touched}
        for b in touched:
            rel = os.path.join(rel_data, f"{_BUCKET}={b}")
            bucket_paths[b] = rel
            stats[b] = self._dir_column_stats(rel)
            blooms[b] = new_blooms.get(b, {})
        return self._commit(
            pending["new_version"],
            bucket_paths,
            pending["columns"],
            stats,
            change_feed=pending["rel_changes"],
            blooms=blooms,
            operation="merge",
            op_params={
                "conditional": pending["conditional"],
                "schema_evolution": pending["allow_schema_evolution"],
                "touched_buckets": len(touched),
            },
            file_stats=self._prior_file_stats(cur_version, touched),
            dv=self._prior_dv(cur_version, touched),
            types=pending["types"],
        )

    @scoped_store_op("source")
    def merge_into(
        self,
        source: DataFrame,
        matched: list[tuple[str, str | None]] | None = None,
        not_matched_insert: str | bool = True,
        update_set: dict[str, str] | None = None,
        not_matched_by_source: list[tuple] | None = None,
        write_change_feed: bool = False,
    ) -> int:
        """Full MERGE INTO clause semantics (Delta/ANSI-style), on the
        same bucket-pruned rewrite as :meth:`merge`.

        ``matched`` is an ORDERED list of ``("update", cond)`` /
        ``("delete", cond)`` clauses; for each source row matching a
        stored row by PK, the FIRST clause whose condition holds
        applies (``cond=None`` ⇒ always) — exactly Delta's
        first-match-wins clause evaluation. A matched pair no clause
        accepts keeps the stored row untouched. ``not_matched_insert``
        gates source rows with no stored PK (``True`` ⇒ always insert,
        ``False`` ⇒ never, or a condition). Stored rows with no source
        match are untouched — MERGE never scans them out.

        Conditions are SQL strings over aliases ``s`` (source row) and
        ``t`` (stored/target row): ``"s.ts >= t.ts"``, ``"s.value <
        10"``. ``update_set`` maps column → SQL expression over the
        same aliases (``{"value": "s.value + t.value"}``); unmapped
        columns take the source row's value, so the default is
        whole-row replace (ReplaceOne). Key columns cannot be SET
        (their value defines the match — Delta raises too).

        ``not_matched_by_source`` (Delta's ``WHEN NOT MATCHED BY
        SOURCE``, SQL:2003 MERGE) is an ORDERED list of ``("delete",
        cond)`` / ``("update", cond, set_dict)`` clauses applied to
        STORED rows with no source PK match — the sync-to-source /
        soft-expire shape. Conditions and SET expressions see only the
        ``t`` alias (there is no source row; an ``s.*`` reference
        evaluates NULL, so a cond using it never fires). First match
        wins; a target-only row no clause accepts is kept, and with no
        clauses the list defaults to today's keep-everything behavior.

        Scale: identical to :meth:`merge` — the batch collapses per PK
        (one shuffle), routes to PK-hash buckets, and ONLY touched
        buckets rewrite; clause evaluation is a projection on the
        joined frame, and every result row rehashes into the touched
        set (inserts come from the batch, updates keep their PK), so
        untouched buckets re-reference their dirs. A merge touching 1%
        of keys rewrites ~1% of a 100 TB table regardless of clause
        complexity. ``not_matched_by_source`` adds a phase-1 pre-scan
        (the same trick as :meth:`delete`): an anti-join of stored keys
        vs batch keys finds the buckets holding ≥1 clause-affected
        target-only row — an aggregate collecting ≤ num_buckets ids —
        and only THOSE buckets join the touched set, so a sync that
        expires 1% of keys still rewrites ~1% of the table, not all of
        it (the full-scan read is unavoidable — every stored row must
        be checked for absence — but the rewrite stays proportional).
        """
        from parquet_demo_spark.sources.mongo import collapse_for_upsert

        matched = list(matched or [])
        for kind, _ in matched:
            if kind not in ("update", "delete"):
                raise ValueError(f"unknown matched clause kind: {kind!r}")
        update_set = dict(update_set or {})
        bad = sorted(set(update_set) & set(self.keys))
        if bad:
            raise ValueError(f"cannot SET key columns: {bad}")
        nmbs: list[tuple[str, str | None, dict[str, str]]] = []
        for clause in not_matched_by_source or []:
            kind, cond = clause[0], clause[1]
            if kind == "delete":
                if len(clause) > 2 and clause[2]:
                    raise ValueError(
                        "not_matched_by_source delete clause takes no SET"
                    )
                nmbs.append(("delete", cond, {}))
            elif kind == "update":
                sets = dict(clause[2]) if len(clause) > 2 and clause[2] else {}
                if not sets:
                    raise ValueError(
                        "not_matched_by_source update clause requires a "
                        "SET dict (there is no source row to default to)"
                    )
                bad = sorted(set(sets) & set(self.keys))
                if bad:
                    raise ValueError(f"cannot SET key columns: {bad}")
                nmbs.append(("update", cond, sets))
            else:
                raise ValueError(
                    f"unknown not_matched_by_source clause kind: {kind!r}"
                )

        missing = [
            c
            for c in (*self.keys, *self.version_cols)
            if c not in source.columns
        ]
        if missing:
            raise ValueError(f"source batch lacks key/version cols {missing}")
        spark = source.sparkSession
        batch = collapse_for_upsert(source, self.keys, self.version_cols)

        cur_version = self.current_version()
        if cur_version is None:
            cols = list(batch.columns)
        else:
            cols = self._read_manifest(cur_version)["columns"]
            if set(batch.columns) != set(cols):
                raise ValueError(
                    "merge_into requires the source schema to match the "
                    f"store's ({sorted(set(batch.columns) ^ set(cols))} "
                    "differ); evolve via merge(allow_schema_evolution=True)"
                )
        unknown = sorted(set(update_set) - set(cols))
        if unknown:
            raise ValueError(f"update_set names unknown columns: {unknown}")
        for _, _, sets in nmbs:
            unknown = sorted(set(sets) - set(cols))
            if unknown:
                raise ValueError(
                    "not_matched_by_source SET names unknown columns: "
                    f"{unknown}"
                )

        batch = batch.withColumn(_BUCKET, self._bucket_expr())
        touched = sorted(
            r[0] for r in batch.select(_BUCKET).distinct().collect()
        )
        prior = {} if cur_version is None else self._bucket_paths(cur_version)

        def _cond(c: str | None):
            return F.lit(True) if c is None else F.coalesce(
                F.expr(c).cast("boolean"), F.lit(False)
            )

        if nmbs and prior:
            # phase-1 pre-scan (delete()'s trick): which buckets hold a
            # target-only row some clause actually affects? Collects
            # ≤ num_buckets ints, so the rewrite stays proportional to
            # affected rows even though the scan reads every bucket.
            all_dirs = sorted(
                os.path.join(self.root, p) for p in set(prior.values())
            )
            t_all = self._apply_dv(
                spark,
                self._read_aligned(spark, all_dirs, cur_version),
                cur_version,
            )
            t_probe = t_all.select(
                *[F.col(k).alias(f"__tk_{k}") for k in self.keys],
                F.struct(*[F.col(c).alias(c) for c in cols]).alias("t"),
            ).withColumn(
                # typed NULL source struct so clause conds referencing
                # s.* resolve (to NULL → false) instead of failing
                "s",
                F.lit(None).cast(
                    T.StructType(
                        [
                            T.StructField(c, t_all.schema[c].dataType)
                            for c in cols
                        ]
                    )
                ),
            )
            batch_keys = batch.select(
                *[F.col(k).alias(f"__sk_{k}") for k in self.keys]
            ).dropDuplicates()
            target_only = t_probe.join(
                batch_keys,
                [
                    F.col(f"__tk_{k}").eqNullSafe(F.col(f"__sk_{k}"))
                    for k in self.keys
                ],
                "left_anti",
            )
            any_clause = F.lit(False)
            for _, c, _ in nmbs:
                any_clause = any_clause | _cond(c)
            affected = target_only.filter(any_clause).select(
                F.pmod(
                    F.hash(*[F.col(f"__tk_{k}") for k in self.keys]),
                    F.lit(self.num_buckets),
                ).alias("__b")
            )
            nmbs_buckets = {r[0] for r in affected.distinct().collect()}
            touched = sorted(set(touched) | nmbs_buckets)

        # two one-struct-column frames joined null-safely on the PK: the
        # structs give clause/SET expressions their s.* / t.* namespaces
        s_frame = batch.select(
            *[F.col(k).alias(f"__sk_{k}") for k in self.keys],
            F.struct(*[F.col(c).alias(c) for c in cols]).alias("s"),
        )
        existing_touched = [
            os.path.join(self.root, prior[b]) for b in touched if b in prior
        ]
        if existing_touched:
            current = self._apply_dv(
                spark,
                self._read_aligned(spark, existing_touched, cur_version),
                cur_version,
                buckets=[b for b in touched if b in prior],
            )
            t_frame = current.select(
                *[F.col(k).alias(f"__tk_{k}") for k in self.keys],
                F.struct(*[F.col(c).alias(c) for c in cols]).alias("t"),
            )
            joined = s_frame.join(
                t_frame,
                [
                    F.col(f"__sk_{k}").eqNullSafe(F.col(f"__tk_{k}"))
                    for k in self.keys
                ],
                "full_outer",
            )
        else:
            joined = s_frame.withColumn(
                "t", F.lit(None).cast(s_frame.schema["s"].dataType)
            )

        has_s = F.col("s").isNotNull()
        has_t = F.col("t").isNotNull()

        # first-match-wins over the ordered clause list; 'keep' for an
        # unmatched-by-any-clause pair. Target-only rows run the
        # not_matched_by_source ladder (index-tagged: each update clause
        # carries its OWN SET dict, so the projection must know which
        # clause fired).
        action = F.lit("keep")
        for kind, c in reversed(matched):
            action = F.when(_cond(c), F.lit(kind)).otherwise(action)
        if not_matched_insert is True:
            ins = F.lit("insert")
        elif not_matched_insert is False:
            ins = F.lit("drop")
        else:
            ins = F.when(
                _cond(not_matched_insert), F.lit("insert")
            ).otherwise(F.lit("drop"))
        nmbs_action = F.lit("keep")
        for i in reversed(range(len(nmbs))):
            kind, c, _ = nmbs[i]
            tag = "delete" if kind == "delete" else f"nmbs_update_{i}"
            nmbs_action = F.when(_cond(c), F.lit(tag)).otherwise(nmbs_action)
        action = (
            F.when(has_s & has_t, action)
            .when(has_s, ins)
            .otherwise(nmbs_action)
        )
        tagged = joined.withColumn("__action", action)

        nmbs_update_tags = [
            f"nmbs_update_{i}"
            for i, (kind, _, _) in enumerate(nmbs)
            if kind == "update"
        ]

        def _post(c: str):
            """Post-image of column ``c`` for every surviving action."""
            e = F.when(
                F.col("__action") == "update",
                F.expr(update_set.get(c, f"s.{c}")),
            ).when(F.col("__action") == "insert", F.col(f"s.{c}"))
            for i, (kind, _, sets) in enumerate(nmbs):
                if kind == "update":
                    e = e.when(
                        F.col("__action") == f"nmbs_update_{i}",
                        F.expr(sets.get(c, f"t.{c}")),
                    )
            return e.otherwise(F.col(f"t.{c}")).alias(c)

        survivors = tagged.filter(F.col("__action") != "delete").filter(
            F.col("__action") != "drop"
        )
        out = survivors.select(*[_post(c) for c in cols])

        new_version = 0 if cur_version is None else cur_version + 1
        rel_changes = None
        if write_change_feed:
            upd = tagged.filter(
                F.col("__action").isin("update", *nmbs_update_tags)
            )
            # identical-rewrite updates are not changes (same law as
            # _derive_changes / changes_between)
            changed_pairs = (
                upd.select(
                    *[_post(c) for c in cols],
                    F.struct(*[F.col(f"t.{c}").alias(c) for c in cols]).alias(
                        "__pre"
                    ),
                )
                .filter(
                    ~F.struct(*[F.col(c) for c in cols]).eqNullSafe(
                        F.col("__pre")
                    )
                )
            )
            post = changed_pairs.select(*cols).withColumn(
                "_change_type", F.lit("update_postimage")
            )
            pre = changed_pairs.select(
                *[F.col("__pre")[c].alias(c) for c in cols]
            ).withColumn("_change_type", F.lit("update_preimage"))
            inserts = (
                tagged.filter(F.col("__action") == "insert")
                .select(*[F.col(f"s.{c}").alias(c) for c in cols])
                .withColumn("_change_type", F.lit("insert"))
            )
            deletes = (
                tagged.filter(F.col("__action") == "delete")
                .select(*[F.col(f"t.{c}").alias(c) for c in cols])
                .withColumn("_change_type", F.lit("delete"))
            )
            feed = post.unionByName(pre).unionByName(inserts).unionByName(
                deletes
            )
            rel_changes = os.path.join("changes", f"v{new_version:05d}-{_writer_token()}")
            feed.write.mode("overwrite").parquet(
                os.path.join(self.root, rel_changes)
            )

        rel_data = os.path.join("data", f"v{new_version:05d}-{_writer_token()}")
        out_dir = os.path.join(self.root, rel_data)
        self._validate_constraints(out, "merge_into")
        out.withColumn(_BUCKET, self._bucket_expr()).write.mode(
            "overwrite"
        ).partitionBy(_BUCKET).parquet(out_dir)

        bucket_paths = {b: p for b, p in prior.items() if b not in touched}
        prior_stats = (
            {}
            if cur_version is None
            else {
                int(k): v
                for k, v in self._read_manifest(cur_version)
                .get("stats", {})
                .items()
            }
        )
        stats = {b: s for b, s in prior_stats.items() if b not in touched}
        prior_blooms = (
            {}
            if cur_version is None
            else {
                int(k): v
                for k, v in self._read_manifest(cur_version)
                .get("blooms", {})
                .items()
            }
        )
        blooms = {b: s for b, s in prior_blooms.items() if b not in touched}
        # a touched bucket whose every row was deleted writes no dir and
        # drops out of the manifest; only materialized dirs re-enter
        wrote_any = False
        if os.path.isdir(out_dir):
            new_blooms = self._out_dir_blooms(out.sparkSession, out_dir)
            for d in sorted(os.listdir(out_dir)):
                if not d.startswith(f"{_BUCKET}="):
                    continue
                wrote_any = True
                b = int(d.split("=", 1)[1])
                rel = os.path.join(rel_data, d)
                bucket_paths[b] = rel
                stats[b] = self._dir_column_stats(rel)
                blooms[b] = new_blooms.get(b, {})
        if not bucket_paths:
            # the merge emptied the table: commit one schema-bearing dir
            out.coalesce(1).write.mode("overwrite").parquet(out_dir)
            bucket_paths = {0: rel_data}
            stats = {}
            blooms = {}
        elif not wrote_any and not touched:
            # empty batch: nothing touched, nothing written — still a
            # legal commit referencing only prior dirs
            pass
        return self._commit(
            new_version,
            bucket_paths,
            cols,
            stats,
            change_feed=rel_changes,
            blooms=blooms,
            operation="merge_into",
            op_params={
                "matched": [list(c) for c in matched],
                "not_matched_insert": str(not_matched_insert),
                "update_set": update_set,
                "not_matched_by_source": [list(c) for c in nmbs],
                "touched_buckets": len(touched),
            },
            file_stats=self._prior_file_stats(cur_version, touched),
            dv=self._prior_dv(cur_version, touched),
            types=_simple_types(out, cols),
        )

    @scoped_store_op("keys_df")
    def delete_keys(
        self,
        keys_df: DataFrame,
        write_change_feed: bool = False,
        deletion_vectors: bool = False,
    ) -> int | None:
        """Drop the rows whose PK appears in ``keys_df`` — the
        join-shaped DELETE (vs :meth:`delete`'s predicate shape).

        This is what a CDC *consumer* needs to apply an upstream
        delete feed: the keys arrive as data, not as a predicate.
        Implemented as ``merge_into(matched=[("delete", None)],
        not_matched_insert=False)``: keys route to PK-hash buckets, only
        those buckets rewrite, unknown keys are no-ops. Returns the
        committed version (a commit happens even when every key was
        unknown — the version records the applied batch, which is what
        an idempotent replication consumer wants).

        ``deletion_vectors=True`` applies the retraction WITHOUT
        rewriting any bucket: the present keys' PKs go straight into
        per-bucket vectors (the :meth:`delete` DV machinery) — an
        upstream feed's hourly retractions then cost PK-sized metadata
        per batch instead of bucket rewrites, and the next natural
        rewrite of each bucket absorbs them. Unknown keys are no-ops
        in both modes.
        """
        spark = keys_df.sparkSession
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"empty merge store: {self.root}")
        if deletion_vectors:
            keyed = keys_df.select(*self.keys).dropDuplicates()
            kb = keyed.withColumn(_BUCKET, self._bucket_expr())
            touched = sorted(
                r[0] for r in kb.select(_BUCKET).distinct().collect()
            )
            prior = self._bucket_paths(cur)
            present = [
                os.path.join(self.root, prior[b])
                for b in touched
                if b in prior
            ]
            if not present:
                # every key routes to a bucket with no data: commit the
                # applied batch with nothing to vector
                matching = self.read(spark, version=cur).limit(0)
            else:
                snap = self._apply_dv(
                    spark,
                    self._read_aligned(spark, present, cur),
                    cur,
                    buckets=touched,
                )
                kr = keyed.select(
                    *[F.col(k).alias(f"__del_{k}") for k in self.keys]
                )
                matching = snap.join(
                    kr,
                    [
                        F.col(k).eqNullSafe(F.col(f"__del_{k}"))
                        for k in self.keys
                    ],
                    "left_semi",
                )
            return self._commit_dv_delete(
                spark,
                cur,
                matching,
                touched,
                write_change_feed,
                op_params={
                    "keys_batch": True,
                    "touched_buckets": len(touched),
                    "deletion_vectors": True,
                },
            )
        cols = self._read_manifest(cur)["columns"]
        # widen the key frame to the table schema (collapse needs
        # version cols; the values are irrelevant — every matched row
        # deletes, no inserts happen). The widened nulls must carry the
        # store's REAL column types: an untyped F.lit(None) is NullType,
        # and when every key lands in a bucket absent from the snapshot,
        # merge_into's no-target branch casts t to the source struct —
        # NullType columns would then reach the parquet writer, which
        # rejects void, instead of the documented unknown-keys-are-no-ops
        # commit.
        types = self.column_types(cur)
        widened = keys_df.select(
            *[
                F.col(c)
                if c in keys_df.columns
                else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )
        return self.merge_into(
            widened,
            matched=[("delete", None)],
            not_matched_insert=False,
            write_change_feed=write_change_feed,
        )

    @scoped_store_op(None, "spark")
    def delete(
        self,
        spark: SparkSession,
        condition=None,
        where: dict[str, tuple] | None = None,
        write_change_feed: bool = False,
        deletion_vectors: bool = False,
    ) -> int | None:
        """Delta-style ``DELETE WHERE``: drop matching rows, rewriting
        only the buckets that actually hold one.

        The full predicate is (``where`` ranges AND ``condition``) —
        the same contract as :meth:`read`: ``where`` (column →
        (lo, hi) closed range) prunes bucket dirs via manifest min/max
        stats AND filters rows, ``condition`` (Column or SQL string) is
        the arbitrary residual. SQL DELETE null semantics: a row whose
        predicate evaluates NULL is KEPT.

        Two-phase, like Delta's DELETE: (1) a metadata+scan pass finds
        the buckets containing ≥1 matching row (an aggregate collecting
        ≤ num_buckets ints, not data); (2) only those buckets rewrite
        without their matching rows, everything else re-references its
        existing dir. Committed as a normal snapshot version (atomic
        pointer), so time travel shows the pre-delete state, vacuum
        reclaims it, and a crash leaves only unreferenced files.

        ``deletion_vectors=True`` replaces phase 2's bucket rewrite
        with a SOFT delete (Delta's deletion vectors): the matching
        rows' PKs are written as per-bucket DV files under ``dv/v{N}``
        and the commit re-references every existing data dir
        unchanged. Readers anti-join the DV; the next rewrite of a
        bucket (merge / delete / compact) reads through the DV and so
        MATERIALIZES the deletes, dropping its entry. Deleting 100
        rows from a 5 GB bucket then costs the 100 PKs, not the
        bucket — the 100 TB GDPR-delete posture — at the price of a
        small anti-join on every read until the next natural rewrite.
        Stats/blooms stay valid as upper bounds (they may prune LESS
        after a DV delete, never wrongly).

        ``write_change_feed=True`` materializes the deleted rows as
        ``_change_type='delete'`` under ``changes/v{N}`` (Delta CDF
        naming) — an incremental consumer retracts exactly those rows
        (identically in both modes).

        Returns the committed version, or None when no row matched
        (a no-op burns no version and writes nothing).
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"empty merge store: {self.root}")
        if condition is None and not where:
            raise ValueError(
                "refusing an unconditional delete: pass condition and/or "
                "where (to truncate, pass condition=F.lit(True))"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cols = self._read_manifest(cur)["columns"]
        prior = self._bucket_paths(cur)
        candidates = self._pruned_bucket_paths(cur, where)
        if not candidates:
            return None

        pred = F.lit(True) if cond is None else cond.cast("boolean")
        for col, (lo, hi) in (where or {}).items():
            if lo is not None:
                pred = pred & (F.col(col) >= F.lit(lo))
            if hi is not None:
                pred = pred & (F.col(col) <= F.lit(hi))
        # NULL predicate → row kept (SQL DELETE)
        match = F.coalesce(pred, F.lit(False))

        cand = self._apply_dv(
            spark,
            self._read_aligned(
                spark,
                [
                    os.path.join(self.root, p)
                    for p in set(candidates.values())
                ],
                cur,
            ),
            cur,
            buckets=list(candidates),
        )
        # phase 1: which buckets hold a match? ≤ num_buckets ints
        touched = sorted(
            r[0]
            for r in cand.filter(match)
            .select(self._bucket_expr().alias(_BUCKET))
            .distinct()
            .collect()
        )
        if not touched:
            return None

        if deletion_vectors:
            return self._delete_via_dv(
                spark,
                cur,
                touched,
                match,
                cols,
                write_change_feed,
                condition,
                where,
                cand,
            )

        # phase 2: rewrite only the touched dirs
        tdf = self._apply_dv(
            spark,
            self._read_aligned(
                spark,
                [os.path.join(self.root, prior[b]) for b in touched],
                cur,
            ),
            cur,
            buckets=list(touched),
        )
        new_version = cur + 1
        rel_changes = None
        if write_change_feed:
            feed = tdf.filter(match).select(*cols).withColumn(
                "_change_type", F.lit("delete")
            )
            rel_changes = os.path.join("changes", f"v{new_version:05d}-{_writer_token()}")
            feed.write.mode("overwrite").parquet(
                os.path.join(self.root, rel_changes)
            )
        keep = tdf.filter(~match).withColumn(_BUCKET, self._bucket_expr())
        rel_data = os.path.join("data", f"v{new_version:05d}-{_writer_token()}")
        out_dir = os.path.join(self.root, rel_data)
        keep.write.mode("overwrite").partitionBy(_BUCKET).parquet(out_dir)

        bucket_paths = {b: p for b, p in prior.items() if b not in touched}
        prior_stats = {
            int(k): v
            for k, v in self._read_manifest(cur).get("stats", {}).items()
        }
        stats = {b: s for b, s in prior_stats.items() if b not in touched}
        prior_blooms = {
            int(k): v
            for k, v in self._read_manifest(cur).get("blooms", {}).items()
        }
        blooms = {b: s for b, s in prior_blooms.items() if b not in touched}
        # an emptied bucket writes no partition dir and simply drops out
        # of the manifest; only dirs that actually materialized re-enter
        new_blooms = self._out_dir_blooms(keep.sparkSession, out_dir)
        for d in sorted(os.listdir(out_dir)):
            if not d.startswith(f"{_BUCKET}="):
                continue
            b = int(d.split("=", 1)[1])
            rel = os.path.join(rel_data, d)
            bucket_paths[b] = rel
            stats[b] = self._dir_column_stats(rel)
            blooms[b] = new_blooms.get(b, {})
        if not bucket_paths:
            # the delete emptied the table: keep it readable by
            # committing one empty (schema-bearing) dir
            keep.drop(_BUCKET).coalesce(1).write.mode("overwrite").parquet(
                out_dir
            )
            bucket_paths = {0: rel_data}
            stats = {}
            blooms = {}
        return self._commit(
            new_version,
            bucket_paths,
            cols,
            stats,
            change_feed=rel_changes,
            blooms=blooms,
            operation="delete",
            op_params={
                "condition": condition
                if isinstance(condition, str)
                else (None if condition is None else "<Column>"),
                "where": {c: list(r) for c, r in (where or {}).items()},
                "touched_buckets": len(touched),
            },
            file_stats=self._prior_file_stats(cur, touched),
            dv=self._prior_dv(cur, touched),
            types=_simple_types(keep, cols),
        )

    def _delete_via_dv(
        self,
        spark: SparkSession,
        cur: int,
        touched: list[int],
        match,
        cols: list[str],
        write_change_feed: bool,
        condition,
        where,
        cand: DataFrame,
    ) -> int:
        """DV-mode phase 2: write the matching PKs as per-bucket
        deletion-vector files; no data dir is touched. The new DV dirs
        absorb the touched buckets' PRIOR DV keys (one dir per bucket
        stays the invariant), untouched buckets keep their entries.

        Reuses phase 1's already-DV-filtered candidate frame — an
        already-deleted PK can never re-enter a vector, and the whole
        DV delete costs ONE scan of the candidate buckets plus a
        PK-sized write (the rewrite mode pays a second scan AND the
        touched buckets' full rewrite)."""
        return self._commit_dv_delete(
            spark,
            cur,
            cand.filter(match),
            touched,
            write_change_feed,
            op_params={
                "condition": condition
                if isinstance(condition, str)
                else (None if condition is None else "<Column>"),
                "where": {c: list(r) for c, r in (where or {}).items()},
                "touched_buckets": len(touched),
                "deletion_vectors": True,
            },
        )

    def _commit_dv_delete(
        self,
        spark: SparkSession,
        cur: int,
        matching: DataFrame,
        touched: list[int],
        write_change_feed: bool,
        op_params: dict,
    ) -> int:
        """Write ``matching`` rows' PKs as per-bucket vectors under
        ``dv/v{N}`` and commit with every data dir re-referenced
        unchanged (shared tail of the DV delete paths)."""
        new_version = cur + 1
        prior = self._bucket_paths(cur)
        cols = self._read_manifest(cur)["columns"]
        if write_change_feed:
            # read twice below (feed + keys): pin it
            matching = matching.localCheckpoint()
        rel_changes = None
        if write_change_feed:
            feed = matching.select(*cols).withColumn(
                "_change_type", F.lit("delete")
            )
            rel_changes = os.path.join("changes", f"v{new_version:05d}-{_writer_token()}")
            feed.write.mode("overwrite").parquet(
                os.path.join(self.root, rel_changes)
            )
        prior_dv = self._dv_entries(cur)
        new_keys = matching.select(*self.keys)
        old_touched_dirs = [
            os.path.join(self.root, rel)
            for b, rel in prior_dv.items()
            if b in touched
        ]
        if old_touched_dirs:
            new_keys = new_keys.unionByName(
                self._read_keys(spark, old_touched_dirs, cur)
            )
        rel_dv = os.path.join("dv", f"v{new_version:05d}-{_writer_token()}")
        out_dir = os.path.join(self.root, rel_dv)
        (
            new_keys.dropDuplicates()
            .withColumn(_BUCKET, self._bucket_expr())
            .repartition(F.col(_BUCKET))
            .write.partitionBy(_BUCKET)
            .parquet(out_dir)
        )
        dv = dict(prior_dv)
        for d in sorted(os.listdir(out_dir)):
            if d.startswith(f"{_BUCKET}="):
                dv[int(d.split("=", 1)[1])] = os.path.join(rel_dv, d)
        m = self._read_manifest(cur)
        return self._commit(
            new_version,
            prior,  # every data dir re-referenced unchanged
            cols,
            stats={int(k): v for k, v in m.get("stats", {}).items()},
            change_feed=rel_changes,
            blooms={int(k): v for k, v in m.get("blooms", {}).items()},
            operation="delete",
            op_params=op_params,
            file_stats=self._prior_file_stats(cur, ()),
            dv=dv,
        )

    def _derive_changes(
        self, ranked: DataFrame | None, batch: DataFrame, cols: list[str]
    ) -> DataFrame:
        """This commit's change rows from the merge's own ranked frame.

        ``ranked`` is the per-PK window over (batch ∪ stored touched
        rows) the merge already built — the survivor is ``__rn = 1``,
        the stored row is ``_FROM_UPSERT = 0``. A change exists iff the
        survivor came from the batch AND (no stored row → insert, or
        any non-key column differs → update pre+post). A conditional
        merge whose stored row won, or a replacement identical to the
        stored row, emits nothing — the feed reports state changes,
        not write attempts. ``ranked is None`` means no touched bucket
        existed: every (collapsed) batch row is an insert.
        """

        def _with_cols(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.col(c) if c in df.columns else F.lit(None).alias(c)
                    for c in cols
                ]
            )

        if ranked is None:
            return classify_changes(
                None, _with_cols(batch), None, cols, list(self.keys), True
            )
        surv = _with_cols(
            ranked.filter(
                (F.col("__rn") == 1) & (F.col(_FROM_UPSERT) == 1)
            )
        )
        old = _with_cols(ranked.filter(F.col(_FROM_UPSERT) == 0))
        # merges never remove a key, so the feed has no delete leg; the
        # insert/update classification is the shared Delta-CDF
        # classifier both stores call (sources/cdc.py)
        return classify_changes(
            old, surv, None, cols, list(self.keys), True
        )

    def change_feed(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The stored change rows of one commit — an O(Δ) read.

        Raises if that commit was written without
        ``write_change_feed=True`` (use :func:`changes_between` to
        diff snapshots instead). Concatenating feeds v+1..w IS the CDF
        stream between v and w (per-commit granularity, like Delta's
        table_changes); ``changes_between(v, w)`` gives the collapsed
        net diff.
        """
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty merge store: {self.root}")
        m = self._read_manifest(v)
        rel = m.get("change_feed")
        if rel is None:
            if m.get("operation") == "wap_publish":
                # a feed-less publish is a LOGICAL data change CDF
                # consumers must not silently skip: some branch commit
                # wrote no feed (and wasn't a CDC-silent compact), so
                # no feed could be adopted or synthesized. Point at
                # the branch history instead of the generic advice.
                p = m.get("op_params", {})
                raise ValueError(
                    f"version {v} landed via wap_publish of "
                    f"{p.get('branch')!r} (branch versions 1.."
                    f"{p.get('branch_version')}) without adoptable "
                    "change feeds (a branch commit was written "
                    "without write_change_feed=True); diff snapshots "
                    f"with changes_between({p.get('base_version')}, "
                    f"{v}) instead"
                )
            raise ValueError(
                f"version {v} has no stored change feed; merge with "
                "write_change_feed=True or diff snapshots with "
                "changes_between"
            )
        reader = spark.read.schema(self._feed_ddl(v))
        if isinstance(rel, list):
            # multi-commit publish (round 13): the refs are the
            # branch's per-commit feeds in version order; tag each
            # with its ordinal so a replayer can apply the commits'
            # upserts-then-deletes phases IN ORDER (a PK deleted in
            # one branch commit and re-inserted in a later one must
            # end up present)
            if not rel:
                # every branch commit was CDC-silent: a zero-change
                # publish serves an empty typed feed
                return (
                    self.read(spark, v)
                    .select(*m["columns"])
                    .limit(0)
                    .withColumn("_change_type", F.lit("insert"))
                    .withColumn(
                        "_commit_version", F.lit(0).cast("bigint")
                    )
                )
            # a branch evolution between feed-bearing commits leaves
            # earlier feeds narrower: the published schema reads their
            # missing columns as typed nulls
            parts = [
                reader.parquet(os.path.join(self.root, r)).withColumn(
                    "_commit_version", F.lit(i + 1).cast("bigint")
                )
                for i, r in enumerate(rel)
            ]
            # balanced fold (the _delta_frame law: O(n log n) driver
            # analysis, not a left-deep chain)
            while len(parts) > 1:
                parts = [
                    parts[i].unionByName(parts[i + 1])
                    if i + 1 < len(parts)
                    else parts[i]
                    for i in range(0, len(parts), 2)
                ]
            return parts[0]
        return reader.parquet(os.path.join(self.root, rel))

    def _feed_ddl(self, version: int) -> str:
        """Read schema of a stored change feed at ``version``."""
        return self._ddl(version, "`_change_type` string")

    @scoped_store_op(None, "spark")
    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> int:
        """Bucket-count evolution: rewrite the snapshot under a new B.

        The rewrite granularity that was right at 1 TB (a bucket ≈ a
        few GB) is wrong at 100 TB — every upsert would rewrite
        multi-TB buckets. ``rebucket`` is the online answer (the
        Iceberg partition-evolution idea applied to hash bucketing):
        one range-free full rewrite committed as a normal version, so
        it is snapshot-isolated, time travel across the boundary keeps
        working, vacuum can reclaim the old layout, and a crash leaves
        only unreferenced files. Subsequent merges route by the new B
        (the manifest records it; reopening with the stale B raises).

        CDC across the boundary stays silent: ``changes_between``
        compares ROWS by PK, not bucket ids, so a pure rebucket emits
        no changes — consumers don't re-process a layout change.
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError("cannot rebucket an empty store")
        new_b = int(new_num_buckets)
        if new_b < 1:
            raise ValueError(f"num_buckets must be >= 1, got {new_b}")
        if new_b == self.num_buckets:
            return cur
        snapshot = self.read(spark, cur)
        cols = self._read_manifest(cur)["columns"]
        old_b = self.num_buckets
        self.num_buckets = new_b
        try:
            batch = snapshot.withColumn(_BUCKET, self._bucket_expr())
            new_version = cur + 1
            rel_data = os.path.join("data", f"v{new_version:05d}-{_writer_token()}")
            out_dir = os.path.join(self.root, rel_data)
            batch.write.mode("overwrite").partitionBy(_BUCKET).parquet(
                out_dir
            )
            bucket_paths, stats, blooms = {}, {}, {}
            new_blooms = self._out_dir_blooms(spark, out_dir)
            for d in sorted(os.listdir(out_dir)):
                if not d.startswith(f"{_BUCKET}="):
                    continue
                b = int(d.split("=", 1)[1])
                rel = os.path.join(rel_data, d)
                bucket_paths[b] = rel
                stats[b] = self._dir_column_stats(rel)
                blooms[b] = new_blooms.get(b, {})
            committed = self._commit(
                new_version,
                bucket_paths,
                cols,
                stats,
                blooms=blooms,
                operation="rebucket",
                op_params={"from": old_b, "to": new_b},
                types=_simple_types(snapshot, cols),
            )
        except BaseException:
            self.num_buckets = old_b
            raise
        return committed

    def bucket_bytes(self, version: int | None = None) -> dict[int, int]:
        """Per-bucket data bytes of the version's referenced dirs — a
        driver METADATA pass (file sizes only, no data read, no Spark
        job). The local-filesystem layout makes ``stat()`` the
        equivalent of the manifest-recorded file sizes an object-store
        deployment would consult; either way the cost is O(files),
        never O(rows)."""
        cur = version if version is not None else self.current_version()
        if cur is None:
            return {}
        out: dict[int, int] = {}
        for b, rel in self._bucket_paths(cur).items():
            d = os.path.join(self.root, rel)
            out[b] = sum(
                os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
        return out

    def maintain(
        self,
        spark: SparkSession,
        target_bucket_bytes: int = 128 << 20,
        max_buckets: int = 4096,
    ) -> dict:
        """Size-driven bucket provisioning (round-10 VERDICT #2): keep
        per-bucket bytes near ``target_bucket_bytes`` by rebucketing to
        the next power of two once any bucket exceeds the target —
        ``buckets ≈ table_bytes / target``, the provisioning law the
        round-10 applier tiers identified (per-batch COW rewrite cost
        tracks BUCKET size; a fixed count lets it grow with the table,
        a size target pins it, so a bounded-key maintenance batch
        rewrites a bounded number of bounded-size buckets at any table
        size — measured flat in scripts/maintain_scale_check.py).

        Returns an action record:
        ``{"action": "rebucket"|"none", ...}`` with the measured
        sizes. The rebucket commits as a normal version through the
        same CAS — it is NOT rebase-safe (every PK moves), so a
        concurrent writer makes exactly one of the two fail loudly
        with :class:`ConcurrentWriteConflict`, never a silent steal.
        Power-of-two growth keeps the cadence geometric: a store
        growing 100× rebuckets ~7 times total, not per commit.
        """
        cur = self.current_version()
        if cur is None:
            return {"action": "none", "reason": "empty store"}
        sizes = self.bucket_bytes(cur)
        total = sum(sizes.values())
        biggest = max(sizes.values(), default=0)
        report = {
            "num_buckets": self.num_buckets,
            "total_bytes": total,
            "max_bucket_bytes": biggest,
            "target_bucket_bytes": int(target_bucket_bytes),
        }
        if biggest <= int(target_bucket_bytes):
            return {"action": "none", **report}
        want = 1
        while want * int(target_bucket_bytes) < total or want <= self.num_buckets:
            if want >= int(max_buckets):
                break
            want *= 2
        # clamp BEFORE the no-op check: a non-power-of-two cap can pull
        # `want` back to (or below) the current count, and reporting
        # that as action="rebucket" would feed phantom actions to a
        # recurring maintenance job (round-11 review finding)
        want = min(want, int(max_buckets))
        if want <= self.num_buckets:
            return {"action": "none", "reason": "at max_buckets", **report}
        version = self.rebucket(spark, want)
        return {
            "action": "rebucket",
            "to": self.num_buckets,
            "version": version,
            **report,
        }

    @scoped_store_op(None, "spark")
    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
        cluster_by: list[str] | None = None,
        files_per_bucket: int = 4,
        zorder_bits: int = 6,
        only_stale: bool = False,
    ) -> int | None:
        """OPTIMIZE: rewrite bucket dirs as a new snapshot version
        (atomic pointer swap — same isolation as merge).

        Default mode (``cluster_by=None``): buckets with ≥ ``min_files``
        files are read back, re-routed by the PK-hash (one shuffle of
        only the fragmented buckets), and written one-file-per-bucket;
        untouched buckets keep their dirs. Returns None if nothing was
        fragmented (no pointless empty version is created).

        ``cluster_by=[c1, c2, ...]`` is OPTIMIZE ... ZORDER BY (Delta's
        clustered compaction, VERDICT r7 #5): EVERY live bucket rewrites
        with its rows ordered along the Morton curve over the listed
        columns (layout.zorder_key — equal-depth rank buckets, bit
        interleave) and split into ~``files_per_bucket`` files per
        bucket, each covering a contiguous curve run — a small
        hyper-rectangle in cluster-space. The commit records PER-FILE
        min/max boxes in the manifest, and reads with a ``where`` range
        then skip individual files inside surviving buckets — the
        within-bucket skipping that dir-level stats can't express. One
        quantile pass + ONE range-shuffled write job for the whole
        table, never a per-bucket job loop. A later merge/delete that
        rewrites a bucket drops that bucket's file boxes (its dir is no
        longer clustered); re-run compact to re-cluster.

        ``only_stale=True`` (with ``cluster_by``) is the INCREMENTAL
        OPTIMIZE: rewrite only buckets with no recorded file boxes —
        i.e. churned since the last clustered compact — leaving
        already-clustered buckets untouched. A nightly OPTIMIZE on a
        100 TB table then costs the day's churn, not the table; the
        quantile pass still samples the stale buckets only, so cut
        points may drift slightly from a full recluster's (boxes stay
        exact either way — pruning is never wrong, merely a little
        looser). No-op (None) when every bucket is already clustered.

        Time travel and CDC are unaffected in both modes: prior
        manifests still reference the old dirs, and ``changes_between``
        across a compaction emits nothing because every rewritten row
        is value-identical (identical-rewrite rows are dropped).
        """
        cur_version = self.current_version()
        if cur_version is None:
            return None
        paths = self._bucket_paths(cur_version)

        def _n_files(rel: str) -> int:
            d = os.path.join(self.root, rel)
            return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

        if cluster_by is None:
            rewrite = sorted(
                b for b, rel in paths.items() if _n_files(rel) >= min_files
            )
        elif only_stale:
            # incremental OPTIMIZE: only buckets whose file boxes were
            # dropped by a later rewrite (or never recorded)
            boxed = set(self._prior_file_stats(cur_version))
            rewrite = sorted(b for b in paths if b not in boxed)
        else:
            rewrite = sorted(paths)  # clustering touches every bucket
        if not rewrite:
            return None
        m = self._read_manifest(cur_version)
        cols = m["columns"]
        unknown = sorted(set(cluster_by or ()) - set(cols))
        if unknown:
            raise ValueError(f"cluster_by names unknown columns: {unknown}")
        # aligned read: TYPED null backfill for evolved columns these
        # dirs predate (untyped NullType would reach the parquet
        # writer below, which rejects void)
        df = self._apply_dv(
            spark,
            self._read_aligned(
                spark,
                [os.path.join(self.root, paths[b]) for b in rewrite],
                cur_version,
            ),
            cur_version,
            buckets=list(rewrite),
        ).withColumn(_BUCKET, self._bucket_expr())
        new_version = cur_version + 1
        rel_data = os.path.join("data", f"v{new_version:05d}-{_writer_token()}")
        out_dir = os.path.join(self.root, rel_data)
        if cluster_by is None:
            # hash-repartition on the bucket id: each bucket lands
            # wholly in one task, so partitionBy emits exactly one file
            # per bucket dir
            df.repartition(F.col(_BUCKET)).write.mode(
                "overwrite"
            ).partitionBy(_BUCKET).parquet(out_dir)
        else:
            from parquet_demo_spark.layout import zorder_key

            z = zorder_key(df, list(cluster_by), bits=zorder_bits)
            # ONE range shuffle over (bucket, z): each output task holds
            # a contiguous curve run of one bucket (boundary tasks may
            # straddle two), so partitionBy lands ~files_per_bucket
            # tight-boxed files in each bucket dir
            (
                df.withColumn("__z", z)
                .repartitionByRange(
                    max(1, self.num_buckets * int(files_per_bucket)),
                    F.col(_BUCKET),
                    F.col("__z"),
                )
                .sortWithinPartitions(_BUCKET, "__z")
                .drop("__z")
                .write.mode("overwrite")
                .partitionBy(_BUCKET)
                .parquet(out_dir)
            )
        bucket_paths = {
            b: rel for b, rel in paths.items() if b not in rewrite
        }
        stats = {
            int(k): v
            for k, v in m.get("stats", {}).items()
            if int(k) not in rewrite
        }
        blooms = {
            int(k): v
            for k, v in m.get("blooms", {}).items()
            if int(k) not in rewrite
        }
        file_stats = self._prior_file_stats(cur_version, rewrite)
        # only dirs that actually materialized re-enter (a bucket whose
        # rows all lived in the schema-bearing empty-table dir writes
        # nothing)
        new_blooms = self._out_dir_blooms(df.sparkSession, out_dir)
        for d in sorted(os.listdir(out_dir)):
            if not d.startswith(f"{_BUCKET}="):
                continue
            b = int(d.split("=", 1)[1])
            rel = os.path.join(rel_data, d)
            bucket_paths[b] = rel
            stats[b] = self._dir_column_stats(rel)
            blooms[b] = new_blooms.get(b, {})
            if cluster_by is not None:
                file_stats[b] = self._dir_file_stats(rel)
        if not bucket_paths:
            # compacting an empty table: keep it readable by committing
            # one schema-bearing empty dir (delete()'s convention)
            df.drop(_BUCKET).coalesce(1).write.mode("overwrite").parquet(
                out_dir
            )
            bucket_paths = {0: rel_data}
            stats = {}
            blooms = {}
            file_stats = {}
        return self._commit(
            new_version,
            bucket_paths,
            cols,
            stats,
            blooms=blooms,
            operation="compact",
            op_params={
                "buckets": len(rewrite),
                "cluster_by": list(cluster_by or ()),
            },
            file_stats=file_stats,
            dv=self._prior_dv(cur_version, rewrite),
            types=_simple_types(df, cols),
        )

    def restore(self, target_version: int) -> int:
        """Delta-style RESTORE: re-commit an earlier snapshot's state as
        a NEW version. Metadata-only — bucket dirs are immutable and
        shared across manifests, so no data moves; the commit is one
        manifest write + the atomic pointer swap, regardless of table
        size (the 100 TB posture: reverting a bad merge costs O(1), not
        a rewrite).

        History is preserved, not rewritten: the rolled-back versions
        stay readable via time travel until vacuumed, and readers switch
        atomically. The FULL table state is restored — bucket paths,
        columns, stats, blooms, and the bucket count (a restore across a
        ``rebucket`` boundary reverts the layout; subsequent merges
        route by the restored B). CHECK constraints are table
        properties, not snapshot state, and survive the restore (Delta
        semantics); the restore itself writes no change feed, but
        ``changes_between(bad, restored)`` shows consumers the net
        revert as ordinary row diffs.

        No-op (returns the current version, creates nothing) when the
        target IS the current version. Raises if the target doesn't
        exist, is newer than the pointer (orphans aren't restorable),
        or was vacuumed — liveness is re-checked against the actual data
        dirs, because vacuum keeps all manifests <= pointer while
        dropping unreferenced dirs.
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"cannot restore an empty store: {self.root}")
        target_version = int(target_version)
        if target_version == cur:
            return cur
        if target_version > cur or target_version < 0:
            raise ValueError(
                f"cannot restore to v{target_version}: committed "
                f"versions are 0..{cur}"
            )
        try:
            m = self._read_manifest(target_version)
        except FileNotFoundError:
            raise ValueError(
                f"version {target_version} does not exist in {self.root}"
            ) from None
        bucket_paths = {int(k): v for k, v in m["bucket_paths"].items()}
        missing = sorted(
            rel
            for rel in list(bucket_paths.values())
            + list(m.get("dv", {}).values())
            if not os.path.isdir(os.path.join(self.root, rel))
        )
        if missing:
            raise ValueError(
                f"version {target_version} was vacuumed: data dirs "
                f"{missing[:3]} no longer exist"
            )
        old_b = self.num_buckets
        self.num_buckets = int(m["num_buckets"])
        try:
            committed = self._commit(
                cur + 1,
                bucket_paths,
                m["columns"],
                stats={int(k): v for k, v in m.get("stats", {}).items()},
                blooms={
                    int(k): v for k, v in m.get("blooms", {}).items()
                },
                operation="restore",
                op_params={"to_version": target_version},
                file_stats={
                    int(k): v
                    for k, v in m.get("file_stats", {}).items()
                },
                dv={int(k): v for k, v in m.get("dv", {}).items()},
                types=self.column_types(target_version),
            )
        except BaseException:
            self.num_buckets = old_b
            raise
        return committed

    # -- CHECK constraints (Delta-style, validated at write time) -------

    def add_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> None:
        """Register a CHECK constraint (SQL boolean over table columns).

        The EXISTING snapshot is validated first (Delta's ADD
        CONSTRAINT does the same scan) — adding a constraint the
        current data violates raises and registers nothing. A NULL
        predicate counts as satisfied (SQL CHECK semantics). The
        constraint reaches the manifest at the next commit and is
        re-loaded on reopen, so the table carries its own invariants.
        """
        if not name.isidentifier():
            raise ValueError(f"constraint name must be an identifier: {name}")
        probe = {name: expr}
        if self.current_version() is not None:
            saved, self.constraints = self.constraints, probe
            try:
                self._validate_constraints(
                    self.read(spark), f"add_constraint({name})"
                )
            finally:
                self.constraints = saved
        self.constraints = {**self.constraints, **probe}

    def _validate_constraints(self, df: DataFrame, context: str) -> None:
        """Raise if any row of ``df`` violates any registered CHECK.

        One aggregate over the rows being written (never the whole
        table): per-constraint violation counts in a single pass. SQL
        CHECK null semantics — a NULL predicate does not violate.

        Constructor-added constraints on a reopened store validate the
        EXISTING snapshot here, on first use (same law as
        add_constraint, deferred until a SparkSession is available) —
        a new constraint the current data already violates raises
        before any write commits.
        """
        if self._pending_constraint_validation and (
            self.current_version() is not None
        ):
            pending = self._pending_constraint_validation
            # clear before the recursive call (guards re-entry); restore
            # on failure so a retry still validates
            self._pending_constraint_validation = {}
            saved, self.constraints = self.constraints, dict(pending)
            try:
                self._validate_constraints(
                    self.read(df.sparkSession),
                    "reopened-store constructor constraints "
                    "(existing snapshot)",
                )
            except Exception:
                self._pending_constraint_validation = pending
                raise
            finally:
                self.constraints = saved
        if not self.constraints:
            return
        aggs = [
            F.sum(
                F.when(
                    ~F.coalesce(F.expr(e).cast("boolean"), F.lit(True)), 1
                ).otherwise(0)
            ).alias(n)
            for n, e in self.constraints.items()
        ]
        row = df.agg(*aggs).first()
        bad = {n: row[n] for n in self.constraints if row[n]}
        if bad:
            raise ValueError(
                f"CHECK constraint violation in {context}: "
                + ", ".join(
                    f"{n} ({self.constraints[n]!r}): {c} rows"
                    for n, c in sorted(bad.items())
                )
            )

    def count_rows(self, version: int | None = None) -> int:
        """Exact snapshot row count from parquet footers — metadata
        speed, no Spark job, no data scan.

        Every parquet footer records its row count; summing them over
        the snapshot's live bucket dirs is the same trick Delta/Iceberg
        use to answer ``COUNT(*)`` from stats. O(#files) footer reads
        regardless of table size.
        """
        import pyarrow.parquet as pq

        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty merge store: {self.root}")
        total = 0
        for rel in set(self._bucket_paths(v).values()):
            abs_dir = os.path.join(self.root, rel)
            for fname in os.listdir(abs_dir):
                if fname.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(abs_dir, fname)
                    ).metadata.num_rows
        # deletion vectors hold DISTINCT PKs still physically present
        # in the data dirs, so the footer sum minus the DV footer sum
        # is exact
        return total - self._dv_count(v)

    def shallow_clone(
        self, dst_root: str, version: int | None = None
    ) -> "ParquetMergeStore":
        """Zero-copy clone (Delta SHALLOW CLONE, a public design): a new
        store whose v0 manifest references THIS store's current data
        dirs by absolute path — no data moves.

        The clone is immediately readable and independently writable:
        its merges/deletes rewrite touched buckets into its OWN data
        dir (copy-on-write), untouched buckets keep referencing the
        source files. The source is never modified through the clone.
        Caveat (same as Delta's): ``vacuum`` on the SOURCE can remove
        files a shallow clone still references — vacuum on the clone
        itself never crosses into the source (liveness is computed
        against the clone's own data dir).

        ``version`` clones an EARLIER committed snapshot (Delta's
        CLONE ... VERSION AS OF); the partitioned store uses this to
        clone each child at its globally PINNED version rather than
        the child's possibly-ahead HEAD. Raises if that snapshot's
        data dirs were vacuumed.

        The dev-branch workflow this enables at 100 TB: clone the
        production table in O(metadata), experiment destructively,
        throw the clone away.
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"cannot clone an empty store: {self.root}")
        if version is None:
            version = cur
        elif not (0 <= int(version) <= cur):
            raise ValueError(
                f"cannot clone v{version}: committed versions are 0..{cur}"
            )
        cur = int(version)
        try:
            m = self._read_manifest(cur)
        except FileNotFoundError:
            raise ValueError(
                f"version {cur} does not exist in {self.root}"
            ) from None
        missing = sorted(
            rel
            for rel in list(m["bucket_paths"].values())
            + list(m.get("dv", {}).values())
            if not os.path.isdir(
                rel if os.path.isabs(rel) else os.path.join(self.root, rel)
            )
        )
        if missing:
            raise ValueError(
                f"cannot clone v{cur}: data dirs {missing[:3]} no longer "
                "exist (vacuumed)"
            )
        clone = ParquetMergeStore(
            dst_root,
            keys=tuple(m["keys"]),
            version_cols=tuple(m["version_cols"]),
            num_buckets=m["num_buckets"],
            bloom_cols=self.bloom_cols,
        )
        if clone.current_version() is not None:
            raise ValueError(f"clone target not empty: {dst_root}")
        # a clone is the same table: it carries the source's CHECK
        # constraints (Delta's SHALLOW CLONE copies table properties,
        # constraints included) — without this the clone's v0 commits
        # empty constraints and silently drops the invariants
        clone.constraints = dict(m.get("constraints", {}))
        abs_paths = {
            b: p if os.path.isabs(p) else os.path.join(self.root, p)
            for b, p in self._bucket_paths(cur).items()
        }
        clone._commit(
            0,
            abs_paths,
            m["columns"],
            stats={int(k): v for k, v in m.get("stats", {}).items()},
            blooms={int(k): v for k, v in m.get("blooms", {}).items()},
            operation="clone",
            op_params={"source": self.root, "source_version": cur},
            file_stats={
                int(k): v for k, v in m.get("file_stats", {}).items()
            },
            dv={
                int(k): (
                    v if os.path.isabs(v) else os.path.join(self.root, v)
                )
                for k, v in m.get("dv", {}).items()
            },
            # inherit the SOURCE's sticky evolution marker: the cloned
            # snapshot may reference pre-evolution bucket dirs with
            # fewer physical columns, and _evolved_flag(0, ...) would
            # wrongly report False (clones have no predecessor chain)
            evolved=bool(m.get("evolved", True)),
            types=self.column_types(cur),
        )
        return clone

    # --- write-audit-publish (Iceberg WAP, a public design) -----------

    _BRANCHES = "_branches"

    def wap_branch(
        self, name: str, version: int | None = None
    ) -> "ParquetMergeStore":
        """Open an audit branch: a shallow clone under
        ``<root>/_branches/<name>`` pinned to the current (or given)
        committed snapshot. This is the WRITE leg of the Iceberg
        write-audit-publish pattern: the pipeline merges its candidate
        batch into the branch (copy-on-write into the branch's own
        data dir — the production table is never touched), the AUDIT
        leg reads the branch and runs expectations, and
        :meth:`wap_publish` fast-forwards the audited snapshot into
        the production history without recomputing the write.

        The branch root lives inside the store root but outside its
        ``data``/``changes``/``dv`` sweep roots, so production
        ``vacuum`` never collects branch state (and branch vacuum
        never crosses into the source — the shallow-clone law).
        """
        import re

        if (
            not re.fullmatch(r"[A-Za-z0-9._-]+", str(name))
            or ".." in str(name)
            or str(name) == "."
        ):
            # the name is joined into a path and wap_abandon later
            # rmtree's the branch root — a separator or '..' would
            # escape _branches/, and '.' resolves to _branches/
            # ITSELF (abandoning it would delete every open branch)
            raise ValueError(
                f"invalid branch name {name!r}: use letters, digits, "
                "'.', '_', '-' only"
            )
        dst = os.path.join(self.root, self._BRANCHES, str(name))
        if os.path.exists(dst):
            raise ValueError(
                f"branch {name!r} already exists at {dst}: publish or "
                "abandon it first (wap_publish / wap_abandon)"
            )
        return self.shallow_clone(dst, version=version)

    def _branch_base(self, branch: "ParquetMergeStore") -> int:
        """Validate that ``branch`` is an audit branch of THIS store
        and return the pinned base version."""
        try:
            v0 = branch._read_manifest(0)
        except FileNotFoundError:
            raise ValueError(
                f"{branch.root} has no v0 manifest — not a branch"
            ) from None
        params = v0.get("op_params", {})
        if v0.get("operation") != "clone" or params.get("source") != self.root:
            raise ValueError(
                f"{branch.root} is not a branch of {self.root} "
                f"(v0 operation={v0.get('operation')!r}, "
                f"source={params.get('source')!r})"
            )
        return int(params["source_version"])

    def wap_publish(self, branch: "ParquetMergeStore") -> int:
        """PUBLISH leg of write-audit-publish: adopt the branch's
        audited head snapshot as the next committed version of this
        store — a metadata-only fast-forward (Iceberg's
        ``fast_forward`` / cherry-pick of a ``wap.id`` snapshot). The
        EXACT files the audit read become the published snapshot; no
        data is recomputed or rewritten, so nothing can drift between
        audit and publish.

        Publishing is intentionally NOT rebase-safe: it adopts the
        branch's view of every bucket, so if the production table
        advanced past the branch's base the fast-forward would
        silently revert those commits. A moved base (or a lost commit
        race — the manifest O_EXCL create is the arbiter) raises
        :class:`ConcurrentWriteConflict`; re-branch from the new head
        and re-audit.

        The published manifest references the branch's data dirs in
        place (under ``_branches/``, outside vacuum's sweep roots).
        All store-rooted refs commit as RELATIVE paths — including the
        base snapshot's ``data/`` dirs the branch inherited from the
        clone as absolute refs — so vacuum's relative-keyed live set
        keeps them; absolute self-refs would be invisible to it and a
        post-publish vacuum would destroy committed data (ADVICE r11).
        When the branch holds exactly ONE audited commit and it stored
        a change feed, the publish adopts that feed, so CDF consumers
        see the published rows; a multi-commit publish has no
        single-commit feed and ``change_feed()`` raises a wap-specific
        error for it.
        ``wap_abandon`` refuses to drop a published branch while any
        live manifest still references it; ``compact(spark,
        min_files=1)`` rewrites every bucket — adopted branch buckets
        are single-file, below the default threshold — into the
        store's own data dir, after which (post-vacuum) the branch
        directory is droppable.
        """
        bcur = branch.current_version()
        base = self._branch_base(branch)
        if bcur is None or bcur == 0:
            raise ValueError(
                f"branch {branch.root} has no audited commits beyond "
                "its base — nothing to publish"
            )
        bm = branch._read_manifest(bcur)
        if (
            tuple(bm["keys"]) != tuple(self.keys)
            or tuple(bm["version_cols"]) != tuple(self.version_cols)
            or int(bm["num_buckets"]) != int(self.num_buckets)
        ):
            raise ValueError(
                "branch table definition diverged (keys/version_cols/"
                "num_buckets) — a rebucketed branch cannot fast-forward "
                "into the production bucket routing"
            )
        cur = self.current_version()
        if cur != base:
            raise ConcurrentWriteConflict(
                f"cannot publish branch {branch.root}: production head "
                f"moved from the branch base v{base} to v{cur} — "
                "re-branch from the new head and re-audit"
            )
        broot = branch.root
        root_pfx = os.path.abspath(self.root) + os.sep

        def _norm(p: str) -> str:
            # resolve branch-relative refs, then store refs under
            # self.root (branch-touched buckets AND buckets inherited
            # from the clone's absolute source refs) as RELATIVE paths:
            # vacuum's live set is keyed on relative paths, so an
            # absolute ref into the store's own data/ dirs would be
            # invisible to it and the dirs the published head still
            # references would be swept (ADVICE r11, data loss)
            ap = os.path.abspath(
                p if os.path.isabs(p) else os.path.join(broot, p)
            )
            return os.path.relpath(ap, self.root) if ap.startswith(
                root_pfx
            ) else p

        # CDF: a publish is a logical data change. A single audited
        # commit's stored feed is adopted directly. A MULTI-commit
        # branch's feeds are adopted as an ORDERED LIST of refs
        # (round 13, VERDICT r12 #3) — publish stays metadata-only;
        # change_feed() reads them tagged with a per-source-commit
        # ``_commit_version`` ordinal so replay can preserve the
        # upserts-then-deletes ordering PER source commit (a flat
        # concatenation would mis-replay a delete-then-reinsert of
        # the same PK across branch commits). A feed-less branch
        # commit that is provably CDC-silent (compact) is skipped;
        # any other feed-less commit leaves the publish feed-less and
        # change_feed() raises the wap-specific error as before.
        rel_changes = None
        if bcur == 1:
            bfeed = bm.get("change_feed")
            if isinstance(bfeed, list):
                # the lone commit is itself a multi-commit publish:
                # adopt its ordered refs (round-13 review finding —
                # _norm on a list would crash the publish)
                rel_changes = [_norm(r) for r in bfeed]
            elif bfeed is not None:
                rel_changes = _norm(bfeed)
            elif bm.get("operation") == "compact":
                rel_changes = []  # provably zero-change publish
        else:
            feeds = []
            for v in range(1, bcur + 1):
                vm = branch._read_manifest(v)
                f = vm.get("change_feed")
                if isinstance(f, list):
                    # a nested multi-commit publish inside the branch:
                    # its ordered refs flatten in place (they replay
                    # at this position in the branch order)
                    feeds.extend(_norm(r) for r in f)
                elif f is not None:
                    feeds.append(_norm(f))
                elif vm.get("operation") != "compact":
                    feeds = None  # not synthesizable
                    break
            # [] (every commit a CDC-silent compact) is a VALID
            # synthesis — a zero-change publish serves an empty typed
            # feed, not the feed-less error (round-13 review finding)
            if feeds is not None:
                rel_changes = feeds

        return self._commit(
            cur + 1,
            {b: _norm(p) for b, p in branch._bucket_paths(bcur).items()},
            list(bm["columns"]),
            stats={int(k): v for k, v in bm.get("stats", {}).items()},
            blooms={int(k): v for k, v in bm.get("blooms", {}).items()},
            file_stats={
                int(k): v for k, v in bm.get("file_stats", {}).items()
            },
            dv={
                int(k): _norm(v) for k, v in bm.get("dv", {}).items()
            },
            change_feed=rel_changes,
            operation="wap_publish",
            op_params={
                "branch": broot,
                "branch_version": bcur,
                "base_version": base,
            },
            # sticky evolution: the branch may have evolved the schema;
            # its flag must survive the fast-forward (the main chain's
            # derivation cannot see the branch's intermediate commits)
            evolved=bool(bm.get("evolved", True))
            or self._evolved_flag(cur + 1, list(bm["columns"])),
            types=branch.column_types(bcur),
        )

    def wap_abandon(
        self,
        branch: "ParquetMergeStore",
        keep_last: int | None = None,
        older_than: float | None = None,
    ) -> None:
        """Drop an audit branch. Refuses when any still-readable
        committed version of THIS store references data under the
        branch root (i.e. the branch was published and not yet
        compacted away) — deleting it would destroy committed
        production data, the same failure mode as vacuuming a shallow
        clone's source.

        By default EVERY committed version guards the branch, except
        versions that are provably already expired (some referenced
        store-rooted dir was removed by a prior vacuum — those reads
        raise the descriptive missing-data error regardless). Passing
        ``keep_last``/``older_than`` relaxes the guard to exactly
        :meth:`vacuum`'s retention shape — use the SAME values you
        vacuum with, so the abandon's notion of time-travelable
        history matches yours. The blessed full cleanup is
        ``compact(spark, min_files=1)`` (internalize adopted buckets)
        → ``vacuum(...)`` → ``wap_abandon(branch, <same retention>)``."""
        import shutil

        self._branch_base(branch)  # validates ownership
        bpfx = os.path.abspath(branch.root) + os.sep
        cur = self.current_version()
        if cur is not None:
            committed = [v for v in self.history() if v <= cur]
            if keep_last is None and older_than is None:
                retained = list(committed)
            else:
                # mirror vacuum's slicing EXACTLY (committed[-kl:],
                # where kl=0 retains everything) so "pass the same
                # keep_last you vacuum with" holds at every value —
                # max(1, ...) used to map 0 to 1 and could drop a
                # branch that vacuum(keep_last=0)'s retained versions
                # still reference (ADVICE r11)
                kl = 1 if keep_last is None else int(keep_last)
                retained = committed[-kl:]
                if older_than is not None:
                    for v in committed:
                        if v in retained:
                            continue
                        at = self._read_manifest(v).get("committed_at")
                        if at is None or at >= older_than:
                            retained.append(v)
            for v in sorted(set(retained) | {cur}):
                m = self._read_manifest(v)
                refs = list(m.get("bucket_paths", {}).values()) + list(
                    m.get("dv", {}).values()
                )
                feed = m.get("change_feed")
                if isinstance(feed, list):  # multi-commit publish
                    refs.extend(feed)
                elif feed is not None:
                    refs.append(feed)
                # refs may be store-relative (wap_publish normalizes
                # branch refs to relative so vacuum's live set sees
                # them) — resolve before the branch-prefix test
                if not any(
                    os.path.abspath(
                        p if os.path.isabs(p) else os.path.join(self.root, p)
                    ).startswith(bpfx)
                    for p in refs
                ):
                    continue
                if v != cur and any(
                    not os.path.isdir(
                        p if os.path.isabs(p) else os.path.join(self.root, p)
                    )
                    for p in refs
                ):
                    continue  # provably expired: already unreadable
                raise ValueError(
                    f"branch {branch.root} is referenced by committed "
                    f"version v{v}: compact() and vacuum() the store "
                    "before abandoning a published branch (pass this "
                    "abandon the same keep_last/older_than you vacuum "
                    "with)"
                )
        shutil.rmtree(branch.root)

    def describe_history(self) -> list[dict]:
        """Commit log of the COMMITTED versions, oldest first — Delta's
        DESCRIBE HISTORY: operation name, its parameters, wall-clock
        commit time, bucket/feed footprint. Orphan manifests (above the
        pointer) are excluded; pre-provenance manifests report
        operation 'unknown'."""
        current = self.current_version()
        if current is None:
            return []
        out = []
        for v in self.history():
            if v > current:
                continue
            m = self._read_manifest(v)
            out.append(
                {
                    "version": v,
                    "operation": m.get("operation", "unknown"),
                    "op_params": m.get("op_params", {}),
                    "committed_at": m.get("committed_at"),
                    "n_buckets": len(m.get("bucket_paths", {})),
                    "change_feed": m.get("change_feed"),
                }
            )
        return out

    def version_at(self, timestamp: float) -> int:
        """Largest committed version with committed_at <= ``timestamp``
        (epoch seconds) — timestamp-based time travel:
        ``store.read(spark, version=store.version_at(ts))``. Raises if
        the store has no commit at or before the timestamp."""
        best = None
        for row in self.describe_history():
            at = row["committed_at"]
            if at is not None and at <= timestamp:
                best = row["version"]
        if best is None:
            raise ValueError(
                f"no commit at or before {timestamp} in {self.root}"
            )
        return best

    def clean_orphans(self) -> list[int]:
        """Remove crashed commits' manifests (versions above the
        committed pointer) so their version numbers become claimable
        again.

        A commit writes its manifest BEFORE the atomic pointer swap, so
        a crash in between leaves an orphan manifest that blocks the
        next writer's O_EXCL creation of that version. Calling this
        requires the same contract as Delta's FSCK: the caller asserts
        no writer is currently mid-commit. Data dirs stay (vacuum
        reclaims them); only the unreferenced manifests go. Returns the
        removed version numbers.
        """
        committed = self.current_version()
        removed = []
        for v in self.history():
            if committed is None or v > committed:
                os.remove(self._manifest_path(v))
                removed.append(v)
        return removed

    def vacuum(
        self, keep_last: int = 1, older_than: float | None = None
    ) -> list[str]:
        """Drop data dirs unreferenced by any RETAINED committed
        manifest; returns removed paths (data dirs plus any orphan
        manifest dirs from a crashed merge).

        Retained versions: the newest ``keep_last`` committed ones,
        plus — when ``older_than`` (an ABSOLUTE unix timestamp, the
        Iceberg ``expireSnapshots(olderThan=...)`` shape) is given —
        every version whose ``committed_at`` is at or after it. The
        head never expires. ``committed_at`` is monotonic, so the
        retained set is always a contiguous suffix; a legacy manifest
        with no ``committed_at`` record is retained (never destroy
        data whose age can't be proven). Time travel to any retained
        version stays intact; a read of an expired version raises the
        descriptive vacuumed error up front instead of dying mid-scan.

        Liveness is anchored on the committed pointer, never on manifest
        files alone: ``_commit`` writes the manifest BEFORE the atomic
        pointer swap, so a merge that crashed between the two leaves an
        orphan manifest newer than the pointer. Treating that orphan as
        the newest version could drop data dirs the committed snapshot
        still references — destroying committed data. Orphan manifests
        (version > pointer) are cleaned up here instead; their data dirs
        were never committed. Same caveat as keep_last (Delta's):
        expiring SOURCE versions a shallow clone still references can
        strand the clone; vacuum on a clone never crosses into the
        source (only dirs under this store's root are candidates).
        """
        import shutil

        current = self.current_version()
        if current is None:
            # nothing committed: any on-disk state is a crashed first
            # merge; removing it could race that merge's commit, and
            # keeping it costs only uncommitted scratch
            return []
        committed = [v for v in self.history() if v <= current]
        keep_versions = committed[-keep_last:]
        if older_than is not None:
            for v in committed:
                if v in keep_versions:
                    continue
                at = self._read_manifest(v).get("committed_at")
                if at is None or at >= older_than:
                    keep_versions.append(v)
        if current not in keep_versions:
            keep_versions.append(current)
        keep_versions = sorted(set(keep_versions))
        live: set[str] = set()
        for v in keep_versions:
            for rel in self._bucket_paths(v).values():
                # a referenced bucket dir keeps its parent data/vN dir
                live.add(rel.split(os.sep + _BUCKET + "=")[0])
        removed = []
        for v in self.history():
            if v > current:  # orphan manifest from a crashed merge
                shutil.rmtree(os.path.join(self.root, f"v{v:05d}"))
                removed.append(f"v{v:05d}")
        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                rel = os.path.join("data", d)
                if rel not in live:
                    shutil.rmtree(os.path.join(data_root, d))
                    removed.append(rel)
        # change feeds are per-version artifacts: live iff their
        # version's manifest is kept (committed feeds only — an orphan
        # version's dir was removed with its manifest above)
        live_feeds = set()
        for v in keep_versions:
            f = self._read_manifest(v).get("change_feed")
            if isinstance(f, list):  # multi-commit publish refs
                live_feeds.update(f)
            else:
                live_feeds.add(f)
        changes_root = os.path.join(self.root, "changes")
        if os.path.isdir(changes_root):
            for d in sorted(os.listdir(changes_root)):
                rel = os.path.join("changes", d)
                if rel not in live_feeds:
                    shutil.rmtree(os.path.join(changes_root, d))
                    removed.append(rel)
        # deletion-vector dirs are version-addressed but CARRIED
        # FORWARD by later manifests (like bucket dirs): live iff any
        # kept manifest references a dv entry under them
        live_dv = set()
        for v in keep_versions:
            for rel in self._dv_entries(v).values():
                live_dv.add(rel.split(os.sep + _BUCKET + "=")[0])
        dv_root = os.path.join(self.root, "dv")
        if os.path.isdir(dv_root):
            for d in sorted(os.listdir(dv_root)):
                rel = os.path.join("dv", d)
                if rel not in live_dv:
                    shutil.rmtree(os.path.join(dv_root, d))
                    removed.append(rel)
        return removed


def admission_watermarks(
    store: ParquetMergeStore, keys: tuple[str, ...]
) -> ParquetMergeStore:
    """Per-entity last-applied-edit side store for streaming index
    maintenance (VERDICT r8 #4 + ADVICE r8).

    The maintained index is keyed for ITS reads — (band, doc_id) band
    tables, (term, doc_id) postings — so a doc-level LWW admission
    check against it cannot bucket-prune and previously paid a
    full-index scan + shuffle per micro-batch. This side store is
    keyed on the entity id alone (one row per doc/vector, o(index)
    total), so admission is a :meth:`ParquetMergeStore.probe` — the
    batch's buckets of a tiny table. It also survives deletion: an
    entity edited-to-empty keeps its watermark row even though all its
    index rows are tombstoned, so a LATE stale edit (older edit_ts
    arriving after the emptying) is still rejected — previously it
    found no surviving rows, "won", and re-indexed stale content.

    Commit order contract: the caller merges watermarks AFTER the
    index commit, so a crash between the two replays the batch (wm
    behind ⇒ re-admitted ⇒ idempotent re-apply), never drops it.
    """
    return ParquetMergeStore(
        store.root.rstrip("/") + "_wm",
        keys=keys,
        version_cols=("edit_ts",),
        num_buckets=store.num_buckets,
    )


def stream_merge_into_store(
    spark: SparkSession,
    source_dir: str,
    schema,
    store: ParquetMergeStore,
    checkpoint: str,
    max_files_per_trigger: int = 1,
    conditional: bool = False,
):
    """R13 ∘ R14: streaming ingest into the mutable store.

    The reference's streaming pipeline ends in bulk ReplaceOne
    (`ingest_parquet_to_mongo_stream.py:102-181`); here the same shape is
    readStream → foreachBatch → ``store.merge`` — each micro-batch is one
    atomic store version, so a crash between batches leaves the last
    fully-merged snapshot (and the checkpoint replays the batch that
    didn't commit). Micro-batches execute sequentially, which is exactly
    the store's single-writer contract.

    ``conditional=True`` uses only-if-newer merges, making the final
    snapshot independent of file/batch arrival order AND idempotent
    under foreachBatch's at-least-once redelivery — the exactly-once
    recipe for this sink.
    """

    def _merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.merge(batch_df, conditional=conditional)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_change_feed(
    spark: SparkSession,
    store: ParquetMergeStore,
    max_files_per_trigger: int | None = None,
):
    """The store's stored change feeds as a STRUCTURED STREAM — the
    Delta "CDF streaming read" shape on this store.

    A file-source stream over ``changes/*``: every commit with
    ``write_change_feed=True`` drops new files under a new version dir,
    and the stream's next micro-batch picks exactly those up (the file
    source tracks processed files in the checkpoint, so a restart
    resumes after the last consumed commit — at-least-once per file,
    exactly-once with an idempotent sink such as
    ``replay_change_feed``'s upsert/delete pair or foreachBatch into a
    second store). Requires at least one stored feed to exist. The
    file source's static schema is the head manifest's recorded one.

    Downstream gets (table columns…, _change_type) rows in commit
    order per micro-batch — the O(Δ) signal an always-on incremental
    consumer (MV maintenance, replication, cache invalidation) tails
    instead of diffing snapshots.
    """
    changes_root = os.path.join(store.root, "changes")
    versions = (
        sorted(os.listdir(changes_root))
        if os.path.isdir(changes_root)
        else []
    )
    if not versions:
        raise ValueError(
            f"no stored change feeds under {changes_root}; merge with "
            "write_change_feed=True first"
        )
    # the head's recorded schema: a feed written before a schema
    # evolution reads the columns it lacks as typed nulls, and a column
    # added later is never dropped from the stream
    reader = spark.readStream.schema(
        store._feed_ddl(store.current_version())
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(os.path.join(changes_root, "*"))


def replay_change_feed(
    src: ParquetMergeStore,
    dst: ParquetMergeStore,
    spark: SparkSession,
    v_from: int = 0,
    v_to: int | None = None,
    allow_schema_evolution: bool = True,
) -> list[int]:
    """Scope wrapper: replication's whole input is (src feeds + the
    replica), so one size decision covers every per-version isEmpty
    probe and replica commit below — see tuning.py."""
    from parquet_demo_spark.tuning import store_plan_scope

    with store_plan_scope(spark, (src.root, dst.root)):
        return _replay_change_feed_impl(
            src, dst, spark, v_from, v_to, allow_schema_evolution
        )


def _replay_change_feed_impl(
    src: ParquetMergeStore,
    dst: ParquetMergeStore,
    spark: SparkSession,
    v_from: int = 0,
    v_to: int | None = None,
    allow_schema_evolution: bool = True,
) -> list[int]:
    """Replicate ``src`` into ``dst`` by replaying stored change feeds
    for versions ``v_from..v_to`` (inclusive), in version order.

    The consumer half of CDC: each source commit's feed applies as (1)
    an unconditional upsert of its insert/update_postimage rows, then
    (2) a keyed delete of its delete rows — within one commit a PK has
    exactly one action, so the two phases never conflict. Applying a
    feed twice converges (replace-by-PK is idempotent; deleting an
    absent key is a no-op), which is what an at-least-once feed
    shipper needs. Raises if any version in the range was committed
    without a stored feed (``changes_between`` can diff those spans
    instead, at snapshot-scan cost).

    Reads are O(Δ) — only the feed files, never the source table — so
    replicating a day of changes on a 100 TB store moves the day's
    delta. Returns the destination versions committed (one or two per
    source version; feed-less no-change versions commit nothing).

    ``allow_schema_evolution`` (default True): the feed is the
    source's committed history, so when it carries columns the replica
    hasn't seen, the source evolved and the replica follows (strict
    mode would strand replication at the evolution boundary). The
    widening is gated on the SOURCE's committed manifest columns at
    that version — a drifted or corrupt feed carrying columns the
    source never committed raises instead of silently widening the
    replica (round-14 ADVICE). Pass False to reject any widening.
    """
    v_to = src.current_version() if v_to is None else v_to
    if v_to is None:
        raise ValueError(f"empty source store: {src.root}")
    committed: list[int] = []

    def _apply(feed: DataFrame, v: int, src_cols: list[str]) -> None:
        drifted = [
            c
            for c in feed.columns
            if c not in ("_change_type", "_commit_version")
            and c not in src_cols
        ]
        if drifted:
            raise ValueError(
                f"change feed for v{v} carries column(s) {drifted} "
                "the source never committed at that version — "
                "refusing to replay a drifted/corrupt feed"
            )
        upserts = feed.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type")
        if not upserts.isEmpty():
            committed.append(
                dst.merge(
                    upserts,
                    allow_schema_evolution=allow_schema_evolution,
                )
            )
        dels = feed.filter(F.col("_change_type") == "delete").select(
            *src.keys
        )
        if not dels.isEmpty():
            committed.append(dst.delete_keys(dels))

    for v in range(v_from, v_to + 1):
        feed = src.change_feed(spark, v)
        src_cols = list(src._read_manifest(v).get("columns") or [])
        if "_commit_version" in feed.columns:
            # a multi-commit wap_publish feed: apply each source
            # commit's phase pair IN ORDER — within one commit a PK
            # has one action, but across commits a delete may precede
            # a re-insert of the same PK, which a single flattened
            # upserts-then-deletes pass would replay wrong
            ordinals = sorted(
                r[0]
                for r in feed.select("_commit_version")
                .distinct()
                .collect()
            )
            for o in ordinals:
                _apply(
                    feed.filter(F.col("_commit_version") == o).drop(
                        "_commit_version"
                    ),
                    v,
                    src_cols,
                )
        else:
            _apply(feed, v, src_cols)
    return committed


def changes_between(
    store: ParquetMergeStore,
    spark: SparkSession,
    v_from: int,
    v_to: int | None = None,
    where: dict[str, tuple] | None = None,
    include_preimages: bool = False,
) -> DataFrame:
    """CDC-style incremental read: rows whose state at ``v_to`` differs
    from ``v_from`` (inserted or updated keys), plus ``_change_type``.

    The manifests make this cheap: a bucket whose path is IDENTICAL in
    both versions cannot contain a change, so only rewritten buckets are
    scanned — on a 100 TB store an incremental consumer reads the data
    the merges actually touched, not the table. Within those buckets the
    new snapshot is anti-/left-joined to the old on the PK:

    - key absent in old  → ``insert``
    - key present, any non-key column differs → ``update_postimage``
      (the replacement row, Delta CDF naming)
    - key present in old, absent at ``v_to`` → ``delete`` (the old
      row; only :meth:`ParquetMergeStore.delete` commits can produce
      these — merges never remove a key)
    - unchanged rows are dropped (a rewrite that re-wrote an identical
      row is not a change).

    ``include_preimages=True`` additionally emits the OLD row for every
    updated key as ``update_preimage`` (Delta CDF naming). Pre-images
    are what make the feed *invertible*: a downstream aggregate can be
    maintained incrementally as +post −pre per group instead of being
    recomputed from the table (see operators/incremental.py). When a
    ``where`` range is given, a changed pair is emitted iff its
    POST-image qualifies (the pair travels together — an aggregate over
    a qualifying key needs both sides).

    ``where`` (column → (lo, hi) closed range, as in ``read``) further
    prunes the changed-bucket set via ``v_to``'s min/max stats — a
    changed bucket whose new stats exclude the range cannot contain a
    qualifying post-image — and filters the emitted rows.
    """
    head = store.current_version()
    v_to = head if v_to is None else v_to
    if v_to is None or v_from < 0 or v_to < 0:
        raise ValueError(f"bad version range: {v_from}..{v_to}")
    # bounds-check BOTH endpoints against the committed head: a version
    # beyond head names no manifest, and surfacing that as a clean
    # ValueError here beats a FileNotFoundError from deep inside
    # _bucket_paths (the caller asked a semantic question, not an I/O
    # one)
    if head is None or v_from > head or v_to > head:
        raise ValueError(
            f"version range {v_from}..{v_to} exceeds head "
            f"{head if head is not None else '<empty store>'}"
        )
    # A BACKWARD span (v_from > v_to) is equally well-defined: the diff
    # is "the changes that transform snapshot@v_from into snapshot@v_to"
    # — every comparison below is between the two snapshots, never along
    # the commit log. RESTORE is the producer of backward spans: a
    # consumer reading changes across a table rollback sees the net
    # revert as ordinary signed rows (re-inserts of reverted deletes,
    # deletes of rolled-back inserts).
    old_paths = store._bucket_paths(v_from)
    new_paths = store._bucket_paths(v_to)
    dv_from = store._dv_entries(v_from)
    dv_to = store._dv_entries(v_to)
    # the two sides are pruned INDEPENDENTLY: after a rebucket the same
    # id names a different key set in each version, so "changed" must
    # mean "this version's dir is not referenced by the other version",
    # per side — comparing ids across versions would drop the old rows
    # of keys that moved buckets and mis-tag them as inserts. A bucket
    # whose DATA dir is identical but whose DELETION VECTOR differs
    # changed too (a DV delete touches no data dir); its soft-deleted
    # keys surface as ordinary delete rows through the presence check.
    changed = sorted(
        b
        for b, p in new_paths.items()
        if old_paths.get(b) != p or dv_from.get(b) != dv_to.get(b)
    )
    changed_old = sorted(
        b
        for b, p in old_paths.items()
        if new_paths.get(b) != p or dv_from.get(b) != dv_to.get(b)
    )
    if where:
        # stats pruning applies to the NEW side only (post-images
        # qualify the pair); old dirs must stay readable for the
        # pre-images of qualifying keys, whose old bucket id is
        # unknowable after a bucket-count change
        surviving = store._pruned_bucket_paths(v_to, where)
        changed = [b for b in changed if b in surviving]
    cols = store._read_manifest(v_to)["columns"]

    if not changed and not changed_old:
        return store.read(spark, v_to).select(*cols).limit(0).withColumn(
            "_change_type", F.lit("insert")
        )

    def _read(
        paths: dict[int, str], buckets: list[int], version: int
    ) -> DataFrame | None:
        present = [
            os.path.join(store.root, paths[b]) for b in buckets if b in paths
        ]
        if not present:
            return None
        # both sides read with the v_to schema: columns an older dir
        # lacks read as TYPED nulls, so a consumer replaying the feed
        # into another store never hands the parquet writer a void
        # column
        df = store._read_aligned(spark, present, v_to)
        # that version's deletion vectors: soft-deleted rows are not
        # part of the snapshot this side represents
        return store._apply_dv(spark, df, version, buckets=buckets)

    new = _read(new_paths, changed, v_to)
    old = _read(old_paths, changed_old, v_from)
    keys = list(store.keys)
    if old is None:
        return classify_changes(
            None, apply_where_ranges(new, where), None, cols, keys,
            include_preimages,
        )

    # deletes: keys live at v_from whose row is GONE at v_to — only a
    # DELETE commit produces them. A key's bucket id under v_to may
    # differ from its v_from id (rebucket inside the span), so presence
    # is checked against the v_to dirs the old keys actually map to
    # under v_to's bucketing (an id set ≤ num_buckets, collected from
    # an aggregate). Deletes qualify a `where` range by their only
    # image — the old row.
    n_to = store._read_manifest(v_to).get("num_buckets", store.num_buckets)
    n_from = store._read_manifest(v_from).get(
        "num_buckets", store.num_buckets
    )
    if n_from == n_to:
        # no rebucket inside the span: bucket_expr depends only on the
        # PK values and the bucket count, so every old row's key hashes
        # to the SAME id under v_to as the changed_old dir it was read
        # from — changed_old is a covering superset of the old keys'
        # v_to buckets and the presence read needs no collect job.
        # (Extra ids only widen pres_keys with keys no old row matches;
        # the anti-join result is unchanged. A MISSED bucket would
        # mis-tag a live key as deleted — supersets are safe, subsets
        # are not.)
        target_ids = list(changed_old)
    else:
        to_bucket = F.pmod(
            F.hash(*[F.col(k) for k in keys]), F.lit(n_to)
        )
        target_ids = sorted(
            r[0]
            for r in old.select(to_bucket.alias("__b"))
            .distinct()
            .collect()
        )
    presence = _read(new_paths, target_ids, v_to)
    if presence is None:
        gone = old
    else:
        pres_keys = presence.select(
            *[F.col(k).alias(f"__new_{k}") for k in keys]
        )
        gone = old.join(
            pres_keys,
            [F.col(k).eqNullSafe(F.col(f"__new_{k}")) for k in keys],
            "left_anti",
        )
    # deletes qualify a `where` range by their only image — the old row
    gone = apply_where_ranges(gone, where)

    if new is None:
        # no changed NEW dirs: the span's only candidates are deletes
        return classify_changes(
            None, old.limit(0), gone, cols, keys, include_preimages
        )
    # the where residual pre-filters the POST side (post-images qualify
    # the changed pair — filtering the join's left input commutes with
    # the left join); the classification law itself is the shared
    # Delta-CDF classifier both stores call (sources/cdc.py)
    return classify_changes(
        old, apply_where_ranges(new, where), gone, cols, keys,
        include_preimages,
    )
