"""Partition columns on the merge store (VERDICT r6 #3).

A 100 TB events table needs date partitions so time-scoped reads and
deletes prune whole directories and retention is a metadata-only drop —
PK-hash buckets and min/max/bloom stats alone can't do that (every
bucket spans every date).

Design: Hive-style partition directories COMPOSED WITH the existing
single-writer store rather than threaded through it. Each partition
value owns a child :class:`ParquetMergeStore` at ``root/p=<val>/``
(bucketed, bloom'd, CDC-capable, time-travelable — everything the child
already does); a GLOBAL versioned manifest (``root/v{N}/manifest.json``
+ atomic ``_latest`` pointer, the child's own commit protocol) maps
each committed table version to ``{partition value: child version}``.
Readers resolve the global manifest first, so child versions committed
by an in-flight writer are invisible until the global pointer swaps —
the same snapshot-isolation story as the child store, one level up.

Why composition beats widening the child's bucket key to
(partition, bucket):

- **Pruning is directory-shaped.** A date-scoped read selects child
  stores by partition value from the manifest — zero file listings, let
  alone reads, under non-matching partitions; inside each selected
  child, the usual bucket/min-max/bloom pruning still applies. For
  NON-partition predicates, each entry also carries the child's
  rolled-up per-column [min, max] (the Iceberg manifest-list design),
  so a ``where`` range skips whole child directories before any child
  manifest is opened.
- **Retention is one manifest write.** ``drop_partition`` commits a new
  global version without the partition's entry; no data file is
  touched, and the change feed can still synthesize the delete rows
  from the dropped child's (still-present) last snapshot.
- **Per-partition commit independence.** Two ingest jobs landing on
  different dates commit different child stores and only contend on the
  cheap global pointer CAS — a single integrated manifest would
  serialize them through one optimistic-concurrency domain. At 1000
  executors x daily partitions, that's the difference between parallel
  and queued ingest.

Constraint: every partition column must be one of the PK columns. The
PK then determines the partition, so an upsert routes deterministically
and a key can never silently move between partitions (which would
duplicate it — the same invariant reasoning as the child's reopen
config validation). ``partition_col`` also accepts a TUPLE of columns
(VERDICT r7 #6 — real retention keys are (date, source)): composite
values key the manifest and child dirs as ``p=v1|v2``, and scoped
reads/deletes prune on any subset of the columns via a dict-shaped
``partitions`` argument.

Crash story: children commit first, then the global manifest. A crash
between the two leaves orphan child versions that no global manifest
references — invisible to readers, reclaimable via the child's own
``clean_orphans``/``vacuum``. Every write path (merge, delete_where,
compact) builds on the globally PINNED child version, not the child's
HEAD: when they differ (the crashed-writer residue), the child is
first restored to the pin, so an aborted transaction's rows can never
silently fold into a later successful commit even if the crashed batch
is never retried.

Reference parity note: the reference's R14 upsert
(`/root/reference/examples/ingest_parquet_to_mongo_bulk.py:108-116`)
has no partition concept; this is a charter extension following public
lakehouse designs (Hive partitioning, Delta partition columns +
drop-partition retention, Iceberg partition pruning).
"""

from __future__ import annotations

import json
import os
import tempfile
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_demo_spark.sources.merge_store import (
    ConcurrentWriteConflict,
    ParquetMergeStore,
    schema_ddl,
)
from parquet_demo_spark.tuning import scoped_store_op


# separator between the components of a composite (multi-column)
# partition value in manifest keys and child dir names: p=2024-01-05|web
_SEP = "|"


def _pdir(val, multi: bool = False) -> str:
    """Directory-safe partition value COMPONENT (dates/ints/strings).

    The composite separator is rejected only for MULTI-column stores
    (where it would make ``pval.split`` ambiguous); a single-column
    store's values may legally contain it — pre-existing stores created
    before composite keys existed stay writable (ADVICE r8)."""
    s = str(val)
    bad = "/\\\0\n" + (_SEP if multi else "")
    if not s or any(c in s for c in bad):
        raise ValueError(f"unsupported partition value: {val!r}")
    return s


def _composite(vals) -> str:
    """Composite manifest key / dir tag for a value tuple."""
    vals = list(vals)
    return _SEP.join(_pdir(v, multi=len(vals) > 1) for v in vals)


def _unescape(name: str) -> str:
    """Reverse Spark's Hive-style %XX dir-name escaping (partitionBy
    escapes '%' itself, so one unescape pass is exact)."""
    import re

    return re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


class PartitionedParquetMergeStore:
    """Partition-directory composition over :class:`ParquetMergeStore`."""

    def __init__(
        self,
        root: str,
        keys: tuple[str, ...],
        partition_col: str | tuple[str, ...],
        version_cols: tuple[str, ...] = (),
        num_buckets: int = 8,
        bloom_cols: tuple[str, ...] = (),
        write_concurrency: int = 8,
        constraints: dict[str, str] | None = None,
        child_store: str = "cow",
    ) -> None:
        # a string means one partition column; a tuple is HIVE-style
        # multi-level partitioning, e.g. (date, source) — real retention
        # keys (VERDICT r7 #6). Composite values key the manifest (and
        # name child dirs) as "v1|v2"; scoped reads prune on any subset
        # of the columns via dict-shaped ``partitions``.
        cols = (
            (partition_col,)
            if isinstance(partition_col, str)
            else tuple(partition_col)
        )
        if not cols:
            raise ValueError("partition_col must name at least one column")
        bad = [c for c in cols if c not in keys]
        if bad:
            raise ValueError(
                "every partition column must be one of the PK columns "
                "(the PK determines the partition so upserts route "
                f"deterministically): {bad} not in {keys}"
            )
        self.root = root
        self.keys = tuple(keys)
        self.partition_cols = cols
        # single-column compatibility alias (existing callers/tests)
        self.partition_col = cols[0] if len(cols) == 1 else None
        self.version_cols = tuple(version_cols)
        self.num_buckets = int(num_buckets)
        self.bloom_cols = tuple(bloom_cols)
        # operational knob, not table schema: how many child stores a
        # multi-partition batch writes CONCURRENTLY (each child is an
        # independent directory + commit; Spark schedules the threads'
        # jobs in parallel) — deliberately outside the config-mismatch
        # validation below
        self.write_concurrency = max(1, int(write_concurrency))
        # CHECK constraints are TABLE properties (name -> SQL boolean),
        # persisted in the global manifest and forwarded to every child,
        # so each child write enforces them on its merged post-state;
        # merge() additionally validates the incoming BATCH up front so
        # a violating multi-partition backfill fails before ANY child
        # commits (no partial-transaction cleanup needed)
        self.constraints: dict[str, str] = dict(constraints or {})
        # child-store strategy (VERDICT r11 #4): "cow" children are
        # ParquetMergeStore (copy-on-write bucket rewrites — perfect
        # reads, write amplification); "mor" children are
        # MergeOnReadStore (O(batch) delta appends resolved at read
        # time — the scatter-write backfill trade). MOR children pin
        # by LOG ENTRY number instead of manifest version; per-bucket
        # stats/bloom rollups, change feeds, clones/WAP, conditional
        # merges, and schema evolution are copy-on-write machinery and
        # raise for a MOR table (reads, scoped reads, time travel,
        # deletes, compaction, retention, restore all work).
        if child_store not in ("cow", "mor"):
            raise ValueError(
                f"child_store must be 'cow' or 'mor', got {child_store!r}"
            )
        self.child_store = child_store
        if child_store == "mor":
            if self.bloom_cols:
                raise ValueError(
                    "bloom_cols require copy-on-write children (MOR "
                    "delta logs carry no per-bucket bloom manifests)"
                )
            if self.constraints:
                raise ValueError(
                    "CHECK constraints require copy-on-write children"
                )
        os.makedirs(root, exist_ok=True)
        committed = self.current_version()
        if committed is not None:
            m = self._read_manifest(committed)
            persisted_cs = m.get("child_store", "cow")
            if persisted_cs != child_store:
                raise ValueError(
                    f"partitioned store at {root} was created with "
                    f"child_store={persisted_cs!r}, reopened with "
                    f"{child_store!r}"
                )
            # manifests persist a bare string for single-column stores
            # (older format) and a list for composite keys
            persisted_pc = m["partition_col"]
            persisted_pcols = (
                [persisted_pc]
                if isinstance(persisted_pc, str)
                else list(persisted_pc)
            )
            mismatches = {
                field: (got, have)
                for field, got, have in (
                    ("keys", list(self.keys), m["keys"]),
                    (
                        "partition_col",
                        list(self.partition_cols),
                        persisted_pcols,
                    ),
                    (
                        "version_cols",
                        list(self.version_cols),
                        m["version_cols"],
                    ),
                    ("num_buckets", self.num_buckets, m["num_buckets"]),
                )
                if have != got
            }
            if mismatches:
                raise ValueError(
                    f"partitioned store at {root} was created with "
                    f"different config: {mismatches} (constructor value, "
                    "manifest value)"
                )
            # constraints are mutable table properties, not config: new
            # names add (validated against each child's snapshot on its
            # first write — the child's deferred add_constraint law);
            # silently REDEFINING a persisted one would weaken the
            # table's invariant, so that raises (the child's own rule)
            persisted = m.get("constraints", {})
            conflicts = {
                n: (self.constraints[n], persisted[n])
                for n in self.constraints
                if n in persisted and persisted[n] != self.constraints[n]
            }
            if conflicts:
                raise ValueError(
                    f"partitioned store at {root} already persists "
                    f"constraints with different expressions: {conflicts} "
                    "(constructor value, manifest value); drop the "
                    "constraint or change it via add_constraint"
                )
            self.constraints = {**persisted, **self.constraints}

    # -- global pointer / manifest (the child's commit protocol, reused) --

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_latest")

    def current_version(self) -> int | None:
        try:
            with open(self._pointer) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:05d}", "manifest.json")

    def _read_manifest(self, version: int) -> dict:
        from parquet_demo_spark.sources.merge_store import _load_manifest

        try:
            # same immutable-manifest cache as the child store: global
            # manifests carry per-partition stats + bloom rollups (tens
            # of KB per partition) and _parts re-reads them on every
            # operation — parse once per (path, stat signature)
            return _load_manifest(self._manifest_path(version))
        except FileNotFoundError:
            cur = self.current_version()
            raise ValueError(
                f"global version {version} does not exist in {self.root} "
                f"(committed pointer: {cur}): never committed, or removed "
                "by vacuum(keep_last=...)"
            ) from None

    def _commit(
        self,
        version: int,
        parts: dict[str, int],
        operation: str,
        op_params: dict | None = None,
        columns: list[str] | None = None,
        column_types: dict[str, str] | None = None,
    ) -> int:
        # table-level schema record (name order + simpleString types):
        # the authoritative column set at this global version. After a
        # widening merge routed to a SUBSET of partitions, untouched
        # children keep their narrower physical schemas — readers align
        # every child to THIS set with typed-null backfill, so the
        # table stays readable through a partial evolution. Commits
        # that don't change schema (delete/drop/compact/clone) carry
        # the predecessor's record forward; manifests predating the
        # record derive it from live children on read (legacy stores
        # never evolved at the table level, so the derivation is safe).
        if columns is None and version > 0:
            prev = self._read_manifest(version - 1)
            columns = prev.get("columns")
            column_types = prev.get("column_types")
        vdir = os.path.join(self.root, f"v{version:05d}")
        os.makedirs(vdir, exist_ok=True)
        manifest = {
            "version": version,
            "keys": list(self.keys),
            # bare string for a single column (original format), list
            # for composite keys
            "partition_col": (
                self.partition_cols[0]
                if len(self.partition_cols) == 1
                else list(self.partition_cols)
            ),
            "version_cols": list(self.version_cols),
            "num_buckets": self.num_buckets,
            # partition value -> committed CHILD version at this table
            # version (the whole point: readers pin children through us)
            "partitions": dict(parts),
            "operation": operation,
            "op_params": op_params or {},
            "constraints": self.constraints,
            "child_store": self.child_store,
            "committed_at": __import__("time").time(),
        }
        if columns is not None:
            manifest["columns"] = list(columns)
            manifest["column_types"] = dict(column_types or {})
        try:
            fh = open(self._manifest_path(version), "x")
        except FileExistsError:
            committed = self.current_version()
            if committed is not None and committed >= version:
                # a successful rebase lands at a HIGHER version — the
                # caller must return THAT number, not its stale
                # pre-race target (the competitor's commit)
                rebased_to = self._try_rebase(version, manifest)
                if rebased_to is not None:
                    return rebased_to
            raise ConcurrentWriteConflict(
                f"global version {version} already has a manifest "
                "(another writer won with an overlapping partition "
                "footprint; re-read and retry)"
            ) from None
        with fh:
            json.dump(manifest, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        self._swap_pointer(version)
        return version

    def _swap_pointer(self, version: int) -> None:
        # atomic replace with a monotonic fix-up: two racing replaces
        # can land out of order, and a pointer REGRESSION would make
        # the newer committed version look like an orphan
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

    # rebase-safe table commits: effects confined to their touched
    # partitions. restore re-pins the whole table; clone is v0-only.
    _REBASE_SAFE_OPS = frozenset(
        {"merge", "delete_where", "drop_partition", "compact"}
    )

    @staticmethod
    def _touched_partitions(older: dict, newer: dict) -> set:
        """Partition values whose entry differs between two global
        manifests — the commit's footprint (a drop shows as present →
        absent, a re-create as a new epoch dir)."""
        a, b = older.get("partitions", {}), newer.get("partitions", {})
        return {p for p in set(a) | set(b) if a.get(p) != b.get(p)}

    def _try_rebase(self, version: int, manifest: dict) -> int | None:
        """Delta-style rebase of a CAS-losing GLOBAL commit (VERDICT r8
        #6): two ingest jobs landing on DISJOINT partitions — different
        dates, different sources — each committed their own child
        stores (independent directories; no data contention by
        construction) and only collided on the global pointer. The
        loser's partition entries overlay the new head's map verbatim
        and the commit retries at head+1; overlapping footprints,
        schema/constraint changes underneath, or non-rebase-safe
        operations (restore) stay conflicts.
        """
        if manifest["operation"] not in self._REBASE_SAFE_OPS:
            return None
        head = self.current_version()
        if head is None or head < version:
            return None
        base_m = (
            {"partitions": {}} if version == 0
            else self._read_manifest(version - 1)
        )
        ours = self._touched_partitions(base_m, manifest)
        prev = base_m
        for v in range(version, head + 1):
            try:
                m = self._read_manifest(v)
            except (FileNotFoundError, ValueError):
                return None
            if m.get("operation", "merge") not in self._REBASE_SAFE_OPS:
                return None
            if self._touched_partitions(prev, m) & ours:
                return None
            prev = m
        head_m = prev
        if (
            head_m["num_buckets"] != manifest["num_buckets"]
            or head_m.get("columns") != manifest.get("columns")
            or head_m.get("column_types") != manifest.get("column_types")
            or head_m.get("constraints", {}) != manifest["constraints"]
        ):
            return None
        rebased = dict(head_m)
        merged = {
            p: e
            for p, e in head_m.get("partitions", {}).items()
            if p not in ours
        }
        merged.update(
            {
                p: e
                for p, e in manifest["partitions"].items()
                if p in ours
            }
        )
        # a partition WE dropped must stay dropped (absent from ours'
        # map but in our footprint — the dict update above only adds)
        for p in ours:
            if p not in manifest["partitions"]:
                merged.pop(p, None)
        rebased["partitions"] = merged
        for field in ("operation", "op_params", "committed_at"):
            rebased[field] = manifest[field]
        rebased["op_params"] = {
            **manifest["op_params"],
            # keep the ORIGINAL pre-race base through multi-level
            # recursion (ADVICE r9 — same law as the child store)
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
            return self._try_rebase(head + 1, rebased)
        with fh:
            json.dump(rebased, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        self._swap_pointer(head + 1)
        return head + 1

    def _parts(self, version: int | None = None) -> dict[str, dict]:
        """{partition value: {"dir": child dir name, "version": child
        version}} at a global version. The DIR is part of the pin: a
        partition dropped and later re-created gets a fresh epoch dir
        (``p=<val>@N``), so the old rows can never resurrect through
        the new entry while time travel still resolves the old dir."""
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty partitioned store: {self.root}")
        return {
            k: dict(e)
            for k, e in self._read_manifest(v)["partitions"].items()
        }

    def _columns_at(self, version: int) -> list[str]:
        """Authoritative table column order at a global version.

        Recorded in the manifest from the evolution-aware merge path;
        a manifest predating the record derives it as the first-seen
        union over the live children's own manifests (metadata-only —
        legacy stores never evolved at the table level, so every child
        agrees and the union is exact, not a guess)."""
        m = self._read_manifest(version)
        cols = m.get("columns")
        if cols:
            return list(cols)
        out: list[str] = []
        for pval in sorted(m["partitions"]):
            e = m["partitions"][pval]
            ccols = self._child(e["dir"])._read_manifest(
                int(e["version"])
            )["columns"]
            out.extend(c for c in ccols if c not in out)
        return out

    def _column_types_at(self, version: int) -> dict[str, str]:
        """{column: Spark simpleString type} recorded at a version (may
        be empty for legacy manifests — see :meth:`_columns_at`)."""
        return dict(self._read_manifest(version).get("column_types", {}))

    def _aligned_union(
        self,
        spark: SparkSession,
        dfs: list[DataFrame],
        version: int,
        extra_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Union child frames by name, aligned to the TABLE schema at
        ``version`` with TYPED null backfill — the child store's
        ``_read_aligned`` law one level up.

        After a widening merge into a subset of partitions, untouched
        children still present their narrower schema; a plain
        ``unionByName`` would raise on the mismatch (a successful write
        that leaves the table unreadable — VERDICT r8 #3). Columns
        missing from SOME children take their type from the children
        that have them (Spark's allowMissingColumns); columns missing
        from EVERY selected child (a pruned read over only
        pre-evolution partitions) backfill from the manifest's recorded
        type — never an untyped NullType, which the parquet writer
        would reject downstream.

        The union is a BALANCED tree, not a left-deep chain: each
        ``unionByName`` analyzes its accumulated plan JVM-side, so a
        chain over P children costs O(P²) driver analysis — measured as
        the round-10 #7 fan-in knee (scripts/fanin_scale_check.py); the
        tree is O(P log P), and ``read()``'s era scan below keeps P
        itself small."""
        while len(dfs) > 1:
            dfs = [
                dfs[i].unionByName(dfs[i + 1], allowMissingColumns=True)
                if i + 1 < len(dfs)
                else dfs[i]
                for i in range(0, len(dfs), 2)
            ]
        out = dfs[0]
        cols = self._columns_at(version) + list(extra_cols)
        missing = [c for c in cols if c not in out.columns]
        if not missing:
            return out.select(*cols)
        types = self._column_types_at(version)
        untyped = [c for c in missing if c not in types]
        if untyped:
            # legacy manifest without a type record: probe live
            # children's manifests for one that carries the column
            # (JSON reads + one lazy schema resolution — footer work)
            parts = self._parts(version)
            for pval in sorted(parts):
                e = parts[pval]
                child = self._child(e["dir"])
                ccols = child._read_manifest(int(e["version"]))["columns"]
                have = [c for c in untyped if c in ccols]
                if have:
                    sch = child.read(spark, version=int(e["version"])).schema
                    for f in sch.fields:
                        if f.name in have:
                            types[f.name] = f.dataType.simpleString()
                    untyped = [c for c in untyped if c not in types]
                if not untyped:
                    break
        if untyped:
            raise ValueError(
                f"cannot type null backfill for column(s) {untyped}: "
                "no manifest type record and no live child carries them"
            )
        return out.select(
            *[
                F.col(c)
                if c in out.columns
                else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )

    def _require_cow(self, op: str) -> None:
        """Gate for the surfaces still composed from COW children's
        per-bucket manifests (CHECK constraints, footer counts). NOT
        in this set anymore: ``changes_between`` and ``files_read``
        (round 13 — MOR CDC derives from the children's delta logs),
        and ``shallow_clone``/``wap_branch``/``wap_publish`` (round 14
        — MOR children clone as base-shallow-clone + copied live
        deltas, so an MOR table sits behind the same audit gate)."""
        if self.child_store != "cow":
            raise ValueError(
                f"{op} requires copy-on-write children "
                "(child_store='cow'): MOR children carry no per-bucket "
                "manifests/stored feeds/clones to compose it from"
            )

    def _child(self, dirname: str):
        if self.child_store == "mor":
            from parquet_demo_spark.sources.mor_store import (
                MergeOnReadStore,
            )

            return MergeOnReadStore(
                os.path.join(self.root, dirname),
                keys=self.keys,
                version_cols=self.version_cols,
                num_buckets=self.num_buckets,
            )
        return ParquetMergeStore(
            os.path.join(self.root, dirname),
            keys=self.keys,
            version_cols=self.version_cols,
            num_buckets=self.num_buckets,
            bloom_cols=self.bloom_cols,
            constraints=self.constraints,
        )

    def _pinned_child(self, entry: dict) -> ParquetMergeStore:
        """Open a child store FOR WRITING, fenced to the globally pinned
        version.

        A writer that crashed (or lost the global pointer CAS) after
        committing child versions leaves the child's HEAD ahead of the
        pin; those versions belong to an aborted global transaction and
        must not fold into the next successful commit. Building on the
        child's HEAD would do exactly that — so when HEAD != pin, the
        child is first RESTOREd to the pinned snapshot (the child's
        metadata-only re-commit; the aborted versions stay on disk for
        the child's own vacuum) and the new write builds on that. The
        same guard compact() always had, now on every write path.
        """
        child = self._child(entry["dir"])
        head = child.current_version()
        pinned = int(entry["version"])
        if head != pinned:
            if head is None or head < pinned:
                raise ValueError(
                    f"child store {entry['dir']} is at v{head}, BEHIND "
                    f"the global pin v{pinned}: the partition directory "
                    "was truncated or replaced out-of-band; refusing to "
                    "write through it"
                )
            child.restore(pinned)
        return child

    @staticmethod
    def _child_stats_rollup(
        child: ParquetMergeStore, child_version: int
    ) -> dict[str, list]:
        """Per-column [min, max] over ALL the child's buckets at a
        version — the Iceberg manifest-list rollup, derived purely from
        the child's own manifest (no file I/O, no Spark job).

        A column gets a partition-level bound only when EVERY bucket
        recorded stats for it; otherwise some bucket's contents are
        unbounded and the honest answer is "can't prune". Readers use
        these to skip whole child directories on non-partition
        predicates (e.g. a user_id point lookup touching 3 of 400
        dates) before any child manifest — let alone data file — is
        opened.
        """
        m = child._read_manifest(child_version)
        stats = {int(k): v for k, v in m.get("stats", {}).items()}
        buckets = [int(k) for k in m["bucket_paths"]]
        if not buckets:
            return {}
        common = set(stats.get(buckets[0], {}))
        for b in buckets[1:]:
            common &= set(stats.get(b, {}))
        return {
            c: [
                min(stats[b][c][0] for b in buckets),
                max(stats[b][c][1] for b in buckets),
            ]
            for c in sorted(common)
        }

    @staticmethod
    def _child_blooms_rollup(
        child: ParquetMergeStore, child_version: int
    ) -> dict[str, dict]:
        """Per-column partition-level bloom = bitwise OR of the child's
        bucket blooms at a version (VERDICT r8 #7) — derived purely
        from the child's manifest, no file I/O.

        Only columns every bucket recorded a bloom for (uniform m/k —
        guaranteed since the fixed-m sizing; mixed legacy sizes skip)
        get a rollup; absence means "can't prune". Readers consult
        these on point lookups to skip whole child stores WITHOUT
        opening their manifests — previously q164's lookup pruned
        children by min/max only (useless for hash-scattered keys) and
        paid one child-manifest read per surviving partition just to
        reach the bucket blooms.
        """
        from parquet_demo_spark.sources.merge_store import _bloom_or

        m = child._read_manifest(child_version)
        blooms = {int(k): v for k, v in m.get("blooms", {}).items()}
        buckets = [int(k) for k in m["bucket_paths"]]
        if not buckets or not blooms:
            return {}
        common = set(blooms.get(buckets[0], {}))
        for b in buckets[1:]:
            common &= set(blooms.get(b, {}))
        out = {}
        for c in sorted(common):
            u = _bloom_or([blooms[b][c] for b in buckets])
            if u is not None:
                out[c] = u
        return out

    def _next_epoch_dir(self, pval: str) -> str:
        """Child dir for a partition value with no LIVE entry: the bare
        ``p=<val>`` if never used, else the next ``p=<val>@N`` epoch
        (the bare/previous dirs belong to dropped history)."""
        base = f"p={pval}"
        if not os.path.exists(os.path.join(self.root, base)):
            return base
        n = 1
        while os.path.exists(os.path.join(self.root, f"{base}@{n}")):
            n += 1
        return f"{base}@{n}"

    def partitions(self, version: int | None = None) -> list[str]:
        """Live partition values at a version (manifest-only)."""
        return sorted(self._parts(version))

    def version_at(self, timestamp: float) -> int:
        """Newest global version committed at or before ``timestamp``
        (epoch seconds) — Delta's timestampAsOf, at the table level."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"empty partitioned store: {self.root}")
        best = None
        for v in range(cur + 1):
            try:
                m = self._read_manifest(v)
            except ValueError:
                continue  # vacuumed below the keep window
            if m.get("committed_at", 0) <= timestamp:
                best = v
        if best is None:
            raise ValueError(
                f"no version committed at or before {timestamp}"
            )
        return best

    def describe_history(self) -> list[dict]:
        """Commit log of the committed global versions, oldest first —
        operation, parameters, wall-clock commit time, partition count
        (the child's DESCRIBE HISTORY, one level up)."""
        cur = self.current_version()
        if cur is None:
            return []
        out = []
        for v in range(cur + 1):
            try:
                m = self._read_manifest(v)
            except ValueError:
                continue
            out.append(
                {
                    "version": v,
                    "operation": m.get("operation", "unknown"),
                    "op_params": m.get("op_params", {}),
                    "committed_at": m.get("committed_at"),
                    "n_partitions": len(m.get("partitions", {})),
                }
            )
        return out

    # -- write side -------------------------------------------------------

    # the parent-level scope: one size decision for the whole multi-
    # child operation (children's nested scopes just ride along) — see
    # tuning.py
    @scoped_store_op("upserts")
    def merge(
        self,
        upserts: DataFrame,
        write_change_feed: bool = False,
        conditional: bool = False,
        allow_schema_evolution: bool = False,
    ) -> int:
        """Route the batch to its partitions' child stores, then commit
        one global version pinning every child.

        Only TOUCHED partitions' children advance (and inside each, only
        touched buckets rewrite — the child's law); untouched partitions
        re-reference their committed child versions. The distinct-
        partition collect is metadata-sized (# touched partitions).

        ``conditional=True`` forwards the child's only-if-newer merge,
        which makes streaming ingest through ``stream_merge_into_store``
        order-independent and redelivery-idempotent per partition — the
        q135 exactly-once recipe, now date-partitioned.

        Touched partitions write CONCURRENTLY (``write_concurrency``
        threads; each child is an independent directory + commit, so a
        backfill touching P partitions pays ~P/threads Spark-job
        rounds, not P). Routing and the per-partition filters derive
        from the SAME Spark-side ``cast('string')`` expression, so a
        partition value whose Python ``str()`` rendering differs from
        Spark's (doubles, fractional timestamps) can never route to a
        filter that matches nothing — and the NULL guard rides the same
        single distinct-collect job instead of paying its own.
        """
        lacking = [
            c for c in self.partition_cols if c not in upserts.columns
        ]
        if lacking:
            raise ValueError(f"batch lacks partition column(s) {lacking}")
        if self.child_store == "mor" and (
            conditional or allow_schema_evolution
        ):
            # write_change_feed is NOT in this list anymore (round 14):
            # MOR commits can materialize their feed at commit time
            raise ValueError(
                "conditional/allow_schema_evolution "
                "require copy-on-write children (child_store='cow')"
            )
        # TABLE-level schema law (the child's strict-mode mirror, one
        # level up): a drifting batch must be rejected HERE, not only by
        # the touched children — a widening batch routed exclusively to
        # NEW partitions creates fresh children with the wide schema
        # without any child ever seeing a mismatch, and the next
        # whole-table read dies on the union. With the flag, the global
        # manifest's column set widens (batch-order append) and every
        # read aligns children to it via _aligned_union.
        cur0 = self.current_version()
        g_cols, g_types = None, None
        if cur0 is not None:
            g_cols = self._columns_at(cur0)
            g_types = self._column_types_at(cur0)
            if set(upserts.columns) != set(g_cols):
                if not allow_schema_evolution:
                    raise ValueError(
                        "schema drift: batch columns "
                        f"{sorted(set(upserts.columns) ^ set(g_cols))} "
                        "differ from the table's; pass "
                        "allow_schema_evolution=True for Delta-style "
                        "mergeSchema behavior"
                    )
                g_cols = g_cols + [
                    c for c in upserts.columns if c not in g_cols
                ]
        else:
            g_cols = list(upserts.columns)
            g_types = {}
        got = {
            f.name: f.dataType.simpleString()
            for f in upserts.schema.fields
        }
        # TYPE half of the schema law (round-11 review): evolution adds
        # or drops columns, it never RETYPES one. A retyped batch routed
        # exclusively to a NEW partition would otherwise create a fresh
        # child with the drifted physical type without any child-level
        # check firing — and a later era-grouped whole-table read (one
        # parquet scan across same-named children) dies on the mixed
        # types. Reject at the door, like the MOR store's commit_delta.
        drift = {
            c: (got[c], (g_types or {}).get(c))
            for c in got
            if (g_types or {}).get(c) not in (None, got[c])
        }
        if drift:
            raise ValueError(
                "schema drift: batch column TYPES differ from the "
                f"table's record {drift} (batch type, table type); "
                "schema evolution adds columns, never retypes them"
            )
        g_types = {
            **{c: t for c, t in (g_types or {}).items() if c in g_cols},
            **got,
        }
        # fail-fast CHECK validation of the whole BATCH, before routing:
        # a violating multi-partition backfill must raise before ANY
        # child commits (children re-validate their merged post-state —
        # the full invariant — but by then sibling partitions may have
        # committed; this one agg job keeps the failure atomic)
        self._validate_batch(upserts, "merge batch")
        pexprs = [
            F.col(c).cast("string").alias(c) for c in self.partition_cols
        ]
        # ONE distinct job routes partitions AND buckets: the child
        # bucket id rides along so each child's merge can skip its own
        # touched-bucket distinct-collect — a per-child fixed-cost
        # Spark job a W-partition backfill paid W times (VERDICT r11
        # #1/#7). The expression is the child's own bucket_expr, so
        # the sets are exact by construction.
        bexpr = ParquetMergeStore.bucket_expr(self.keys, self.num_buckets)
        routed = [
            tuple(r)
            for r in upserts.select(*pexprs, bexpr.alias("__b"))
            .distinct()
            .collect()
        ]
        pval_rows = {row[:-1] for row in routed}
        if any(any(v is None for v in row) for row in pval_rows):
            raise ValueError(
                f"NULL in {self.partition_cols} cannot route to a partition"
            )
        components = {_composite(row): row for row in pval_rows}
        pvals = sorted(components)
        touched_buckets: dict[str, set[int]] = {}
        for row in routed:
            touched_buckets.setdefault(
                _composite(row[:-1]), set()
            ).add(int(row[-1]))
        cur = self.current_version()
        if not pvals:
            # empty batch: no child advanced, so no global version burns
            # (the child store's own no-op law, one level up)
            if cur is None:
                raise ValueError(
                    "cannot merge an empty batch into an empty store"
                )
            return cur
        parts = {} if cur is None else self._parts(cur)
        # dir assignment stays serial (cheap, and epoch probing must not
        # race itself); the data writes below fan out
        dirnames = {}
        for pval in pvals:
            # a partition with no LIVE entry gets a FRESH epoch dir even
            # if an old child exists on disk (dropped history): pinning
            # the old child again would resurrect its pre-drop rows
            dirnames[pval] = (
                parts[pval]["dir"]
                if pval in parts
                else self._next_epoch_dir(pval)
            )

        spark = upserts.sparkSession
        if len(pvals) == 1:
            # single-partition batch (the streaming-ingest common case):
            # the whole batch IS the slice — no routing write needed
            [only] = pvals
            child = (
                self._pinned_child(parts[only])
                if only in parts
                else self._child(dirnames[only])
            )
            if self.child_store == "mor":
                # O(batch) delta append — no bucket read or rewrite at
                # any child size (the scatter-write backfill trade)
                child.commit_delta(
                    upserts, write_change_feed=write_change_feed
                )
                v = child.current_version()
                rollup_stats, rollup_blooms = {}, {}
            else:
                pend = child._merge_prepare(
                    upserts,
                    write_change_feed=write_change_feed,
                    conditional=conditional,
                    allow_schema_evolution=allow_schema_evolution,
                    touched=sorted(touched_buckets[only]),
                )
                v = child._merge_commit(
                    pend, child._out_dir_blooms(spark, pend["out_dir"])
                )
                rollup_stats = self._child_stats_rollup(child, v)
                rollup_blooms = self._child_blooms_rollup(child, v)
            parts[only] = {
                "dir": dirnames[only],
                "version": v,
                "stats": rollup_stats,
                "blooms": rollup_blooms,
            }
            new_version = 0 if cur is None else cur + 1
            return self._commit(
                new_version,
                parts,
                "merge",
                {"touched_partitions": pvals},
                columns=g_cols,
                column_types=g_types,
            )

        # ONE Spark job routes the whole batch (VERDICT r7 #1's
        # composite-write design): shuffle on the composite value and
        # write the batch partitionBy(__pval) into a staging dir, so
        # each child's merge then reads ITS one-or-two-file slice — a
        # 1-task scan — instead of re-filtering the full batch. Without
        # this, a 50-partition backfill pays 50 x (batch partitions)
        # tasks per stage; with it, the batch is scanned once.
        staging = tempfile.mkdtemp(
            dir=self.root, prefix="_staging."
        )
        pval_col = F.concat_ws(
            _SEP, *[F.col(c).cast("string") for c in self.partition_cols]
        )
        # concat_ws never returns NULL and the distinct-collect above
        # already rejected NULL components, so every row lands in a real
        # __pval dir. Spark Hive-escapes special chars in dir names;
        # unescaping the listing back to the collected pvals keeps the
        # mapping exact without replicating the escape table.
        (
            upserts.withColumn("__pval", pval_col)
            .repartition(
                max(1, min(len(pvals), 64)), F.col("__pval")
            )
            .write.mode("overwrite")  # mkdtemp pre-created the dir
            .partitionBy("__pval")
            .parquet(staging)
        )
        slices = {}
        for d in os.listdir(staging):
            if not d.startswith("__pval="):
                continue
            pval = _unescape(d.split("=", 1)[1])
            if pval not in dirnames:
                raise ValueError(
                    f"staged partition {pval!r} not in the routed set "
                    f"{pvals} — partition-value rendering drifted"
                )
            slices[pval] = os.path.join(staging, d)
        unstaged = sorted(set(pvals) - set(slices))
        if unstaged:
            raise ValueError(
                f"routed partitions never staged: {unstaged} — "
                "partition-value rendering drifted"
            )

        # each child reads ITS slice with the batch's own schema
        slice_reader = spark.read.schema(upserts.schema)

        def _prepare_one(pval: str):
            dirname = dirnames[pval]
            child = (
                self._pinned_child(parts[pval])
                if pval in parts
                else self._child(dirname)
            )
            pend = child._merge_prepare(
                slice_reader.parquet(slices[pval]),
                write_change_feed=write_change_feed,
                conditional=conditional,
                allow_schema_evolution=allow_schema_evolution,
                touched=sorted(touched_buckets[pval]),
            )
            return child, pend

        # prepare ALL children first (data writes fan out across the
        # pool), then build EVERY child's touched-bucket blooms in ONE
        # Spark job over the just-written output dirs, then commit —
        # the per-child `_out_dir_blooms` job was a FIXED ~0.3–1 s cost
        # paid once per child commit, which a W-week backfill paid W
        # times (VERDICT r11 #1, the q164 2.9× regression). A failure
        # before the commit loop leaves only unreferenced data dirs
        # (child vacuum reclaims them); a child that commits before a
        # sibling fails leaves its versions ABOVE this table's pin —
        # invisible to readers, restored-over by the next write through
        # _pinned_child — so propagating the first error is
        # crash-consistent either way.
        def _mor_merge_one(pval: str) -> dict:
            child = (
                self._pinned_child(parts[pval])
                if pval in parts
                else self._child(dirnames[pval])
            )
            child.commit_delta(
                slice_reader.parquet(slices[pval]),
                write_change_feed=write_change_feed,
            )
            return {
                "dir": dirnames[pval],
                "version": child.current_version(),
                "stats": {},
                "blooms": {},
            }

        try:
            if self.child_store == "mor":
                # each child is one O(slice) delta append — no prepare/
                # bloom/commit phases (nothing to build blooms over)
                with ThreadPoolExecutor(
                    max_workers=min(self.write_concurrency, len(pvals))
                ) as pool:
                    futs = {
                        p: pool.submit(_mor_merge_one, p) for p in pvals
                    }
                    results = {p: f.result() for p, f in futs.items()}
                parts.update(results)
                new_version = 0 if cur is None else cur + 1
                return self._commit(
                    new_version,
                    parts,
                    "merge",
                    {"touched_partitions": pvals},
                    columns=g_cols,
                    column_types=g_types,
                )
            with ThreadPoolExecutor(
                max_workers=min(self.write_concurrency, len(pvals))
            ) as pool:
                futs = {p: pool.submit(_prepare_one, p) for p in pvals}
                prepared = {p: f.result() for p, f in futs.items()}
            new_blooms = (
                ParquetMergeStore._out_dirs_blooms(
                    spark,
                    {
                        p: pend["out_dir"]
                        for p, (_, pend) in prepared.items()
                    },
                    self.bloom_cols,
                )
                if self.bloom_cols
                else {}
            )

            def _commit_one(pval: str) -> dict:
                child, pend = prepared[pval]
                v = child._merge_commit(pend, new_blooms.get(pval, {}))
                return {
                    "dir": dirnames[pval],
                    "version": v,
                    "stats": self._child_stats_rollup(child, v),
                    "blooms": self._child_blooms_rollup(child, v),
                }

            # commits are metadata-only (manifest write + footer-stat
            # walk); the pool still helps when W is large
            with ThreadPoolExecutor(
                max_workers=min(self.write_concurrency, len(pvals))
            ) as pool:
                futs = {p: pool.submit(_commit_one, p) for p in pvals}
                results = {p: f.result() for p, f in futs.items()}
        finally:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
        parts.update(results)
        new_version = 0 if cur is None else cur + 1
        return self._commit(
            new_version,
            parts,
            "merge",
            {"touched_partitions": pvals},
            columns=g_cols,
            column_types=g_types,
        )

    @scoped_store_op(None, "spark")
    def delete_where(
        self,
        spark: SparkSession,
        condition,
        partitions: tuple | dict | None = None,
        write_change_feed: bool = False,
        deletion_vectors: bool = False,
    ) -> int:
        """DELETE WHERE, pruned to a partition range first.

        ``partitions=(lo, hi)`` (closed, on the stringified value —
        ISO dates sort correctly) restricts which CHILD STORES even run
        the delete; within each, the child's two-phase bucket-pruned
        delete applies. A delete scoped to one day of a 100 TB table
        opens one partition directory.
        """
        if self.child_store == "mor" and deletion_vectors:
            # write_change_feed is allowed since round 14 (the MOR
            # commit materializes its feed); DVs stay COW machinery
            raise ValueError(
                "deletion_vectors require copy-on-write children (a "
                "MOR delete IS already a soft tombstone in the delta "
                "log)"
            )
        cur = self.current_version()
        parts = self._parts(cur)
        in_scope = self._select(parts, partitions)

        def _delete_one(pval: str) -> dict | None:
            child = self._pinned_child(parts[pval])
            if self.child_store == "mor":
                # MOR DELETE WHERE: tombstone the matching rows' PKs as
                # a 'd' delta — O(matching) appended, no bucket rewrite
                # at any child size; the next compact materializes
                # them. The overlay-resolved read is pinned so the
                # emptiness probe and the commit's write consume ONE
                # materialization, not two full child reads.
                matching = (
                    child.read(spark, version=int(parts[pval]["version"]))
                    .filter(condition)
                    .persist()
                )
                try:
                    if matching.isEmpty():
                        return None  # no match, no child commit burned
                    child.commit_delta(
                        matching.withColumn("__del_op", F.lit("d")),
                        op_col="__del_op",
                        write_change_feed=write_change_feed,
                    )
                finally:
                    matching.unpersist()
                return {
                    "dir": parts[pval]["dir"],
                    "version": child.current_version(),
                    "stats": {},
                    "blooms": {},
                }
            v = child.delete(
                spark,
                condition,
                write_change_feed=write_change_feed,
                deletion_vectors=deletion_vectors,
            )
            if v is None:  # no match, no child commit burned
                return None
            return {
                "dir": parts[pval]["dir"],
                "version": v,
                "stats": self._child_stats_rollup(child, v),
                "blooms": self._child_blooms_rollup(child, v),
            }

        touched = []
        if in_scope:
            with ThreadPoolExecutor(
                max_workers=min(self.write_concurrency, len(in_scope))
            ) as pool:
                futs = {p: pool.submit(_delete_one, p) for p in in_scope}
                for pval in in_scope:
                    entry = futs[pval].result()
                    if entry is not None:
                        parts[pval] = entry
                        touched.append(pval)
        if not touched:
            # nothing matched anywhere: mirror the child's no-op law
            return cur
        new_version = cur + 1
        return self._commit(
            new_version,
            parts,
            "delete_where",
            {
                "partitions": (
                    {c: list(r) for c, r in partitions.items()}
                    if isinstance(partitions, dict)
                    else list(partitions or ())
                ),
                "touched": touched,
            },
        )

    def drop_partition(self, pval) -> int:
        """Metadata-only retention: commit a global version WITHOUT the
        partition. No data file is touched — the drop is one manifest
        write + pointer swap, O(1) regardless of partition size; the
        dropped child's files stay on disk (time travel to older global
        versions still sees them) until :meth:`vacuum`. Multi-column
        stores pass the value tuple (or the composite string).
        """
        pval = (
            _composite(pval)
            if isinstance(pval, (tuple, list))
            else _pdir(pval)
        )
        cur = self.current_version()
        parts = self._parts(cur)
        if pval not in parts:
            raise ValueError(f"no live partition {pval!r}")
        dropped_child_version = parts.pop(pval)
        new_version = cur + 1
        return self._commit(
            new_version,
            parts,
            "drop_partition",
            {"partition": pval, "child_version": dropped_child_version},
        )

    def _validate_batch(self, df: DataFrame, context: str) -> None:
        """One aggregate over ``df``: per-constraint violation counts
        (SQL CHECK null semantics — a NULL predicate is satisfied)."""
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
                f"{bad} (constraint -> violating rows); "
                f"expressions: { {n: self.constraints[n] for n in bad} }"
            )

    def add_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> None:
        """Register a table-level CHECK constraint (SQL boolean over
        table columns) — the child's add_constraint law, one level up.

        The EXISTING table snapshot (all live partitions) is validated
        first; a constraint the current data violates raises and
        registers nothing. The constraint reaches the global manifest
        at the next commit and every child's manifest on its next
        write (children receive it through construction), so both
        levels carry the invariant independently.
        """
        self._require_cow("add_constraint")
        if not name.isidentifier():
            raise ValueError(
                f"constraint name must be an identifier: {name}"
            )
        probe = {name: expr}
        if self.current_version() is not None and self._parts(
            self.current_version()
        ):
            saved, self.constraints = self.constraints, probe
            try:
                self._validate_batch(
                    self.read(spark), f"add_constraint({name})"
                )
            finally:
                self.constraints = saved
        self.constraints = {**self.constraints, **probe}

    def restore(self, target_version: int) -> int:
        """Delta-style RESTORE at the TABLE level: re-commit an earlier
        global version's state as a NEW commit. Metadata-only — the new
        manifest re-pins exactly the target's {partition: (dir, child
        version, stats)} entries, so dropped partitions reappear and
        later merges/deletes across ANY number of partitions are undone
        in one manifest write + pointer swap, no data file touched (the
        child's own restore law, one level up; reverting a bad backfill
        on a 100 TB table costs O(1)).

        History is preserved: the rolled-back global versions stay
        time-travelable until :meth:`vacuum`, and
        ``changes_between(bad, restored)`` shows consumers the net
        revert as ordinary signed row diffs. A child whose HEAD sits
        ahead of a re-pinned (lower) version needs no rewrite here —
        the next write through ``_pinned_child`` restores it to the pin
        before building on it, exactly as for a crashed writer.

        No-op (returns the current version, burns nothing) when the
        target IS the head. Raises — before any commit — if the target
        manifest, a pinned child dir, or a pinned child-version
        manifest was removed by vacuum.
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"cannot restore an empty partitioned store: {self.root}"
            )
        target_version = int(target_version)
        if target_version == cur:
            return cur
        if not (0 <= target_version < cur):
            raise ValueError(
                f"cannot restore to v{target_version}: committed "
                f"versions are 0..{cur}"
            )
        parts = self._parts(target_version)  # raises if vacuumed
        for pval, e in sorted(parts.items()):
            cdir = os.path.join(self.root, e["dir"])
            if not os.path.isdir(cdir):
                raise ValueError(
                    f"cannot restore to v{target_version}: child dir "
                    f"{e['dir']} (partition {pval!r}) was removed by "
                    "vacuum"
                )
            child = self._child(e["dir"])
            child_manifest = (
                child._entry_path(int(e["version"]))
                if self.child_store == "mor"
                else child._manifest_path(int(e["version"]))
            )
            if not os.path.exists(child_manifest):
                raise ValueError(
                    f"cannot restore to v{target_version}: child "
                    f"{e['dir']} no longer has v{e['version']} "
                    "(vacuumed inside the child)"
                )
        new_version = cur + 1
        # the restored commit's schema is the TARGET's, not the head's:
        # a restore across an evolution boundary re-pins pre-evolution
        # children, and carrying the head's wider record forward would
        # demand typed backfill of columns the snapshot never had
        tm = self._read_manifest(target_version)
        # a legacy (pre-record) target manifest has no columns entry;
        # passing None would let _commit carry the HEAD's wider record
        # forward — exactly what restore must avoid. Derive the
        # target-era schema from the pinned children instead (ADVICE
        # r9: legacy stores never evolved, so the union is exact).
        return self._commit(
            new_version,
            parts,
            "restore",
            {"to_version": target_version},
            columns=tm.get("columns") or self._columns_at(target_version),
            column_types=tm.get("column_types"),
        )

    def shallow_clone(
        self, dst_root: str
    ) -> "PartitionedParquetMergeStore":
        """Zero-copy TABLE clone (Delta SHALLOW CLONE over a partitioned
        table): a new partitioned store whose v0 manifest pins, for
        every live partition, a child that is itself a shallow clone of
        the source child AT ITS GLOBALLY PINNED version — absolute-path
        references, no data moved, cost O(partitions x metadata)
        regardless of table size.

        Cloning the PIN (not the child HEAD) matters: a crashed writer
        can leave child versions above the global pin, and a clone of
        the head would leak that aborted transaction's rows into the
        new table — the same fencing rule ``_pinned_child`` applies to
        writes. The clone is independently writable (copy-on-write
        inside each child; fresh global manifest chain) and carries the
        rolled-up partition stats unchanged, since it pins identical
        data. Vacuum on the SOURCE can strand a clone's references
        (Delta's caveat); vacuum on the clone never crosses into the
        source.
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"cannot clone an empty partitioned store: {self.root}"
            )
        parts = self._parts(cur)
        clone = PartitionedParquetMergeStore(
            dst_root,
            keys=self.keys,
            partition_col=(
                self.partition_cols[0]
                if len(self.partition_cols) == 1
                else self.partition_cols
            ),
            version_cols=self.version_cols,
            num_buckets=self.num_buckets,
            bloom_cols=self.bloom_cols,
            write_concurrency=self.write_concurrency,
            # the clone is the same table, child strategy included: an
            # MOR table's clone gets MOR children (each child clone =
            # base shallow clone + copied live deltas) — round-14
            # VERDICT #2, the table-WAP-on-MOR enabler
            child_store=self.child_store,
        )
        if clone.current_version() is not None:
            raise ValueError(f"clone target not empty: {dst_root}")
        # a clone is the same table: it carries the CHECK constraints
        # (the child clones already carry theirs from their manifests)
        clone.constraints = dict(self.constraints)
        new_parts = {}
        for pval, e in sorted(parts.items()):
            self._child(e["dir"]).shallow_clone(
                os.path.join(dst_root, e["dir"]),
                version=int(e["version"]),
            )
            new_parts[pval] = {
                "dir": e["dir"],
                "version": 0,
                "stats": dict(e.get("stats", {})),
                "blooms": dict(e.get("blooms", {})),
            }
        m = self._read_manifest(cur)
        clone._commit(
            0,
            new_parts,
            "clone",
            {"source": self.root, "source_version": cur},
            # the clone is the same table: inherit the schema record so
            # reads over the cloned (possibly mixed-schema) children
            # align exactly as on the source
            columns=m.get("columns"),
            column_types=m.get("column_types"),
        )
        return clone

    # -- write-audit-publish (Iceberg WAP, a public design) ---------------

    _BRANCHES = "_branches"

    def wap_branch(self, name: str) -> "PartitionedParquetMergeStore":
        """Open a TABLE-level audit branch (VERDICT r11 #3): a global
        shallow clone under ``<root>/_branches/<name>`` pinned to the
        current committed table version. The pipeline merges its
        candidate batch into the branch (each touched child copies on
        write into the BRANCH's child dirs — production is never
        touched, across any number of partitions), the audit reads the
        branch, and :meth:`wap_publish` adopts the audited snapshot as
        one production commit. ``_branches/`` sits outside the table
        vacuum's sweep patterns (``p=*`` / ``v*``), so production
        vacuum never collects an open branch.
        """
        import re

        if (
            not re.fullmatch(r"[A-Za-z0-9._-]+", str(name))
            or ".." in str(name)
            or str(name) == "."
        ):
            # the name is joined into a path and wap_abandon later
            # rmtree's the branch root — a separator or '..' would
            # escape _branches/, and '.' IS _branches/ (the child
            # store's same law)
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
        return self.shallow_clone(dst)

    def _branch_base(
        self, branch: "PartitionedParquetMergeStore"
    ) -> int:
        """Validate ``branch`` is an audit branch of THIS table and
        return the pinned base global version."""
        try:
            v0 = branch._read_manifest(0)
        except ValueError:
            raise ValueError(
                f"{branch.root} has no v0 manifest — not a branch"
            ) from None
        params = v0.get("op_params", {})
        if (
            v0.get("operation") != "clone"
            or params.get("source") != self.root
        ):
            raise ValueError(
                f"{branch.root} is not a branch of {self.root} "
                f"(v0 operation={v0.get('operation')!r}, "
                f"source={params.get('source')!r})"
            )
        return int(params["source_version"])

    def wap_publish(
        self, branch: "PartitionedParquetMergeStore"
    ) -> int:
        """PUBLISH leg of table-level write-audit-publish: adopt the
        branch's audited head as the next committed TABLE version.

        Metadata-only, two steps: each branch-TOUCHED child directory
        (child version advanced, or a partition new on the branch) is
        ``os.rename``d out of ``_branches/`` into a fresh production
        epoch dir (``_next_epoch_dir`` — one rename syscall per
        touched partition, no data movement), then ONE global commit
        pins the moved children at their audited versions alongside
        the untouched partitions' unchanged production entries. The
        EXACT files the audit read become the published snapshot.
        Partitions dropped on the branch are absent from the commit
        (the drop publishes too).

        Like the child store's publish, this is intentionally NOT
        rebase-safe: a production commit past the branch base (or a
        lost pointer CAS — the commit re-checks) raises
        :class:`ConcurrentWriteConflict`; on the CAS race the renames
        are rolled back so the branch survives to re-audit. A crash
        INSIDE the rename window leaves production readers untouched
        (the head still pins the old entries) but consumes the branch:
        ``wap_abandon`` the remains, ``vacuum`` (orphan ``p=*@N`` dirs
        are unreferenced), re-branch, re-audit.

        A published (moved) child still holds clone-v0 ABSOLUTE refs
        into the pre-publish production child's data dirs for buckets
        the branch never rewrote — the table :meth:`vacuum` is
        reference-aware for exactly this (a pinned child's refs keep
        the referenced sibling dirs live), and successive rewrites
        internalize the refs over the child's normal lifecycle. After
        a successful publish the branch directory is REMOVED — the
        fast-forward consumes it; there is no published-branch
        abandon dance (unlike the child store, nothing in production
        references ``_branches/`` after publish).
        """
        import shutil

        base = self._branch_base(branch)
        bcur = branch.current_version()
        if bcur is None or bcur == 0:
            raise ValueError(
                f"branch {branch.root} has no audited commits beyond "
                "its base — nothing to publish"
            )
        bm = branch._read_manifest(bcur)
        bpcols = bm.get("partition_col")
        bpcols = (
            (bpcols,) if isinstance(bpcols, str) else tuple(bpcols or ())
        )
        if (
            tuple(bm["keys"]) != tuple(self.keys)
            or tuple(bm["version_cols"]) != tuple(self.version_cols)
            or int(bm["num_buckets"]) != int(self.num_buckets)
            or bpcols != tuple(self.partition_cols)
        ):
            raise ValueError(
                "branch table definition diverged (keys/version_cols/"
                "num_buckets/partition_col) — it cannot fast-forward "
                "into the production routing"
            )
        cur = self.current_version()
        if cur != base:
            raise ConcurrentWriteConflict(
                f"cannot publish branch {branch.root}: production head "
                f"moved from the branch base v{base} to v{cur} — "
                "re-branch from the new head and re-audit"
            )
        bparts = branch._parts(bcur)
        base_parts = self._parts(base)
        new_parts: dict[str, dict] = {}
        renames: list[tuple[str, str]] = []
        moved: list[str] = []
        for pval, be in sorted(bparts.items()):
            bv = int(be["version"])
            basee = base_parts.get(pval)
            if basee is not None and bv == 0 and be["dir"] == basee["dir"]:
                # untouched on the branch: the clone's v0 pins the
                # SAME snapshot the base entry does — re-pin the
                # production entry directly, no branch indirection
                new_parts[pval] = dict(basee)
                continue
            newdir = self._next_epoch_dir(pval)
            src = os.path.join(branch.root, be["dir"])
            dst = os.path.join(self.root, newdir)
            os.rename(src, dst)
            renames.append((src, dst))
            moved.append(pval)
            new_parts[pval] = {
                "dir": newdir,
                "version": bv,
                "stats": dict(be.get("stats", {})),
                "blooms": dict(be.get("blooms", {})),
            }
        try:
            v = self._commit(
                cur + 1,
                new_parts,
                "wap_publish",
                {
                    "branch": branch.root,
                    "branch_version": bcur,
                    "base_version": base,
                    "published_partitions": moved,
                    "dropped_partitions": sorted(
                        set(base_parts) - set(bparts)
                    ),
                },
                columns=bm.get("columns"),
                column_types=bm.get("column_types"),
            )
        except BaseException:
            # lost the pointer CAS (or any commit failure): move the
            # children back so the branch survives to re-audit
            for src, dst in reversed(renames):
                try:
                    os.rename(dst, src)
                except OSError:  # pragma: no cover - best effort
                    pass
            raise
        shutil.rmtree(branch.root, ignore_errors=True)
        return v

    def wap_abandon(
        self, branch: "PartitionedParquetMergeStore"
    ) -> None:
        """Drop an audit branch without publishing. Production is
        never touched: an open branch's copy-on-write children live
        entirely under ``_branches/<name>``, and no production
        manifest can reference them (publish MOVES children out before
        pinning them). The guard below asserts that law anyway —
        if any committed global version pins a dir under the branch
        root, deleting it would destroy committed data, so refuse.
        """
        import shutil

        self._branch_base(branch)  # validates ownership
        bpfx = os.path.abspath(branch.root) + os.sep
        cur = self.current_version()
        if cur is not None:
            for v in range(cur + 1):
                try:
                    m = self._read_manifest(v)
                except ValueError:
                    continue  # vacuumed below the keep window
                for e in m["partitions"].values():
                    if os.path.abspath(
                        os.path.join(self.root, e["dir"])
                    ).startswith(bpfx):
                        raise ValueError(
                            f"branch {branch.root} is referenced by "
                            f"committed version v{v} — refusing to "
                            "delete committed data"
                        )
        shutil.rmtree(branch.root)

    # -- read side --------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partitions: tuple | dict | None = None,
        where: dict | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot read; ``partitions=(lo, hi)`` prunes child stores by
        manifest before any file is listed; ``where`` (column →
        (lo, hi) closed range) prunes TWICE — first against the global
        manifest's rolled-up per-partition column stats (children whose
        [min, max] provably exclude the range are skipped without their
        directories ever being opened — the Iceberg manifest-list
        design), then via the surviving children's own min/max/bloom
        bucket pruning. ``timestamp`` (epoch seconds) time-travels to
        the newest version committed at or before it (mutually
        exclusive with ``version``)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError(
                    "pass either version or timestamp, not both"
                )
            version = self.version_at(timestamp)
        if version is None:
            version = self.current_version()
            if version is None:
                raise ValueError(f"empty partitioned store: {self.root}")
        parts = self._parts(version)
        if not parts:
            raise ValueError(
                "no live partitions (all dropped); time-travel an older "
                "version to read them"
            )
        selected = self._stats_select(
            parts, self._select(parts, partitions), where
        )
        if not selected:
            # schema from any live child (aligned to the TABLE schema —
            # that child may predate an evolution), zero matching rows
            any_p = sorted(parts)[0]
            df = self._child(parts[any_p]["dir"]).read(
                spark, version=parts[any_p]["version"], where=where
            )
            return self._aligned_union(spark, [df], version).limit(0)
        if where is None and self.child_store == "cow":
            era_frames, slow = self._era_scan_frames(spark, parts, selected)
        elif where is None and self.child_store == "mor":
            era_frames, slow = self._mor_era_frames(spark, parts, selected)
        else:
            # value-pruned reads go through each child's own min/max/
            # bloom bucket pruning (and usually touch few children)
            era_frames, slow = [], list(selected)
        dfs = era_frames + [
            self._child(parts[pval]["dir"]).read(
                spark, version=parts[pval]["version"], where=where
            )
            for pval in slow
        ]
        return self._aligned_union(spark, dfs, version)

    def _era_scan_frames(
        self, spark: SparkSession, parts: dict, selected: list
    ) -> tuple[list[DataFrame], list]:
        """ONE multi-path parquet scan per common SCHEMA ERA instead of
        one DataFrame per child (round-10 VERDICT #7: the per-child
        plan build made a 1k-partition ``read()`` driver-bound).

        A child is era-eligible when its pinned manifest lets a bare
        multi-dir scan reproduce its ``read()`` exactly: never evolved
        (every referenced dir carries the declared schema), no live
        deletion vectors (nothing to anti-join), and all its
        dirs still on disk (a vacuumed child routes to the slow path
        for the descriptive expired-version error). Eligible children
        group by their recorded column/type map — the schema era — and
        each era becomes one multi-dir scan with that schema; stragglers
        return as the slow list for ordinary per-child reads. Driver
        cost: one manifest JSON per child (metadata), one plan per ERA
        (eras are ~1-2 in practice), instead of one analyzed plan per
        child."""
        from parquet_demo_spark.sources.merge_store import _load_manifest

        eras: dict[tuple, list[str]] = {}
        slow: list = []
        for pval in selected:
            e = parts[pval]
            croot = os.path.join(self.root, e["dir"])
            try:
                m = _load_manifest(
                    os.path.join(
                        croot,
                        f"v{int(e['version']):05d}",
                        "manifest.json",
                    )
                )
            except (FileNotFoundError, ValueError):
                slow.append(pval)
                continue
            if m.get("evolved", True) or any(
                v for v in m.get("dv", {}).values()
            ):
                slow.append(pval)
                continue
            dirs = sorted(
                {
                    os.path.join(croot, p)
                    for p in m["bucket_paths"].values()
                }
            )
            if not all(os.path.isdir(d) for d in dirs):
                slow.append(pval)
                continue
            types = self._child(e["dir"]).column_types(int(e["version"]))
            eras.setdefault(
                tuple((c, types[c]) for c in m["columns"]), []
            ).extend(dirs)
        frames = [
            spark.read.schema(
                schema_ddl([c for c, _ in era], dict(era))
            ).parquet(*sorted(dirs))
            for era, dirs in sorted(eras.items())
        ]
        return frames, slow

    def _mor_era_frames(
        self, spark: SparkSession, parts: dict, selected: list
    ) -> tuple[list[DataFrame], list]:
        """ONE fused base-scan + delta-fold per common SCHEMA ERA for
        MOR children (round 16, guide §2.4): the per-child ``read()``
        plans one delta window + one anti-join PER CHILD, so a table
        read over P partitions carries ~2P exchanges and AQE
        materializes each as its own job (q201 census: 22-32 jobs per
        table read at 13 children). When every selected child's pinned
        state can be reproduced from bare scans, the whole table
        resolves with ONE window + ONE anti-join instead.

        Correctness rests on two store invariants: (a) every partition
        column is a PK column (module docstring), so windowing /
        anti-joining on the FULL PK never mixes rows across children —
        in particular each child's delta ``__seq`` only ever orders
        rows within that child's own key space; (b) commit_delta
        validates every appended batch against the child's recorded
        column/type map, so all live delta dirs of a child share the
        entry's column set.

        A child is fused-eligible when its entry state records a
        column set, all its delta dirs are on disk, and its base (if
        any) is reproducible by a bare multi-dir scan: manifest not
        evolved, manifest columns equal to the entry's, bucket dirs on
        disk. Live deletion vectors FUSE rather than disqualify (they
        are the post-publish steady state here — a table compact folds
        branch tombstones into base DVs on every child): DV dirs hold
        deleted PKs, and because partition columns are PK columns, one
        era-wide multi-dir DV scan anti-joined (null-safe, broadcast —
        the per-child ``_apply_dv`` contract) against the era's base
        scan is exactly the per-child filter. Anything else — including
        a fully emptied child, whose slow read supplies the typed
        empty frame — takes the ordinary per-child read via ``slow``.
        Eligible children group by their column tuple; each era plans
        one fused frame."""
        from parquet_demo_spark.sources.merge_store import _load_manifest
        from parquet_demo_spark.sources.mor_store import _OP, _SEQ

        eras: dict[tuple, dict] = {}
        slow: list = []
        for pval in selected:
            e = parts[pval]
            croot = os.path.join(self.root, e["dir"])
            try:
                child = self._child(e["dir"])
                state = child._entry_state(int(e["version"]))
            except (ValueError, KeyError, FileNotFoundError):
                slow.append(pval)
                continue
            cols = state.get("columns")
            delta_dirs = list(state.get("dirs") or [])
            if not cols:
                slow.append(pval)
                continue
            delta_paths = [
                os.path.join(croot, "deltas", d) for d in delta_dirs
            ]
            if not all(os.path.isdir(p) for p in delta_paths):
                slow.append(pval)
                continue
            bv = state.get("base_version")
            base_dirs: list[str] = []
            if bv is not None:
                try:
                    m = _load_manifest(
                        os.path.join(
                            croot,
                            "base",
                            f"v{int(bv):05d}",
                            "manifest.json",
                        )
                    )
                except (FileNotFoundError, ValueError):
                    slow.append(pval)
                    continue
                if (
                    m.get("evolved", True)
                    or list(m.get("columns") or []) != list(cols)
                ):
                    slow.append(pval)
                    continue
                base_dirs = sorted(
                    {
                        os.path.join(croot, "base", p)
                        for p in m["bucket_paths"].values()
                    }
                )
                dv_dirs = sorted(
                    {
                        os.path.join(croot, "base", rel)
                        for rel in m.get("dv", {}).values()
                        if rel
                    }
                )
                if not all(
                    os.path.isdir(d) for d in (*base_dirs, *dv_dirs)
                ):
                    slow.append(pval)
                    continue
            else:
                dv_dirs = []
            if not base_dirs and not delta_paths:
                # emptied child: its slow read returns the typed empty
                # frame (or raises for an unborn store) — preserve that
                slow.append(pval)
                continue
            # the entry's recorded column/type map is the era's read
            # schema; a child without a usable one reads on its own
            types = state.get("types") or {}
            if any(c not in types for c in (*cols, *self.keys)):
                slow.append(pval)
                continue
            era = eras.setdefault(
                tuple((c, types[c]) for c in cols),
                {"base": [], "delta": [], "dv": []},
            )
            era["base"].extend(base_dirs)
            era["dv"].extend(dv_dirs)
            era["delta"].extend(enumerate(delta_paths))
        frames: list[DataFrame] = []
        for era_t, grp in sorted(eras.items(), key=lambda kv: kv[0]):
            cols = [c for c, _ in era_t]
            types = dict(era_t)
            base = (
                spark.read.schema(schema_ddl(cols, types)).parquet(
                    *sorted(grp["base"])
                )
                if grp["base"]
                else None
            )
            if base is not None and grp["dv"]:
                dv = (
                    spark.read.schema(schema_ddl(self.keys, types))
                    .parquet(*sorted(set(grp["dv"])))
                    .select(
                        *[
                            F.col(k).alias(f"__dv_{k}")
                            for k in self.keys
                        ]
                    )
                    .dropDuplicates()
                )
                cond = [
                    F.col(k).eqNullSafe(F.col(f"__dv_{k}"))
                    for k in self.keys
                ]
                base = base.join(F.broadcast(dv), cond, "left_anti")
            if not grp["delta"]:
                if base is not None:
                    frames.append(base)
                continue
            # balanced union of per-dir frames, each tagged with its
            # position in ITS OWN child's log (the LWW order within a
            # key space — cross-child positions never compare because
            # the window keys contain the partition columns)
            reader = spark.read.schema(
                schema_ddl(cols, types, f"`{_OP}` string")
            )
            fr = [
                reader.parquet(p).withColumn(_SEQ, F.lit(i).cast("bigint"))
                for i, p in grp["delta"]
            ]
            while len(fr) > 1:
                fr = [
                    fr[i].unionByName(fr[i + 1])
                    if i + 1 < len(fr)
                    else fr[i]
                    for i in range(0, len(fr), 2)
                ]
            dl = fr[0]
            from pyspark.sql import Window as _W

            w = _W.partitionBy(*self.keys).orderBy(F.col(_SEQ).desc())
            latest = (
                dl.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", _SEQ)
            )
            ups = latest.filter(F.col(_OP) == "u").select(*cols)
            if base is None:
                frames.append(ups)
            else:
                keep = base.join(
                    latest.select(*self.keys), list(self.keys), "left_anti"
                )
                frames.append(keep.select(*cols).unionByName(ups))
        return frames, slow

    def _select(
        self, parts: dict[str, dict], partitions: tuple | dict | None
    ) -> list:
        """Manifest-level partition selection.

        ``partitions`` is either a (lo, hi) closed range over the
        composite value string (single-column stores; the comparison is
        LEXICOGRAPHIC — ISO dates and zero-padded numbers sort
        correctly, bare numbers do not), or a dict
        {partition column: (lo, hi)} pruning each named component
        independently — a read scoped to one week AND one source opens
        only that week x source's children. Dict-form bounds compare in
        the BOUND's type (ADVICE r8): an int/float bound converts the
        stored component before comparing, so a numeric partition
        column scopes numerically ('9' < '10' holds, unlike the string
        compare which silently dropped partition 10 from a (9, 12)
        range); a component that can't convert raises rather than
        silently mis-scoping. String bounds stay lexicographic.
        """

        def _pair(v: str, bound):
            """(comparable component, comparable bound) in the bound's
            type: numeric bounds compare numerically, anything else
            lexicographically against str(bound)."""
            if isinstance(bound, bool) or not isinstance(
                bound, (int, float)
            ):
                return v, str(bound)
            try:
                return type(bound)(v), bound
            except ValueError:
                raise ValueError(
                    f"numeric partition bound {bound!r} against "
                    f"non-numeric partition component {v!r}"
                ) from None

        sel = []
        by_col = isinstance(partitions, dict)
        if by_col:
            unknown = sorted(set(partitions) - set(self.partition_cols))
            if unknown:
                raise ValueError(
                    f"partitions names non-partition columns: {unknown} "
                    f"(partition columns: {list(self.partition_cols)})"
                )
        for pval in sorted(parts):
            if partitions is None:
                sel.append(pval)
                continue
            if by_col:
                # maxsplit bounds the split to the column count, so a
                # single-column store's values may legally contain the
                # separator character
                comps = dict(
                    zip(
                        self.partition_cols,
                        pval.split(_SEP, len(self.partition_cols) - 1),
                    )
                )
                keep = True
                for col, (lo, hi) in partitions.items():
                    v = comps[col]
                    if lo is not None:
                        cv, cb = _pair(v, lo)
                        if cv < cb:
                            keep = False
                            break
                    if hi is not None:
                        cv, cb = _pair(v, hi)
                        if cv > cb:
                            keep = False
                            break
                if not keep:
                    continue
            else:
                lo, hi = partitions
                if (lo is not None and pval < str(lo)) or (
                    hi is not None and pval > str(hi)
                ):
                    continue
            sel.append(pval)
        return sel

    @staticmethod
    def _stats_select(
        parts: dict[str, dict], selected: list, where: dict | None
    ) -> list:
        """Drop partitions whose rolled-up column stats PROVE no row
        satisfies every ``where`` range. A partition whose entry lacks
        stats for a column (pre-rollup manifests, non-orderable types)
        always survives — absence means "can't prune", never "wrong
        prune" (the child store's law, one level up).

        Point lookups (lo == hi) additionally consult the entry's
        ROLLED-UP bloom (OR of the child's bucket blooms — VERDICT r8
        #7): a hash-scattered key column's [min, max] spans ~the whole
        domain and never prunes, but the bloom skips the partition
        without its child manifest ever being opened."""
        from parquet_demo_spark.sources.merge_store import (
            _bloom_maybe_contains,
        )

        if not where:
            return selected
        out = []
        for pval in selected:
            st = parts[pval].get("stats") or {}
            bl = parts[pval].get("blooms") or {}
            keep = True
            for col, (lo, hi) in where.items():
                if col in st:
                    mn, mx = st[col]
                    if (hi is not None and mn > hi) or (
                        lo is not None and mx < lo
                    ):
                        keep = False
                        break
                if (
                    lo is not None
                    and lo == hi
                    and col in bl
                    and not _bloom_maybe_contains(bl[col], lo)
                ):
                    keep = False
                    break
            if keep:
                out.append(pval)
        return out

    def files_read(
        self,
        version: int | None = None,
        partitions: tuple | dict | None = None,
        where: dict | None = None,
    ) -> int:
        """How many data files a :meth:`read` with this scope opens —
        the pruning evidence (footer-free: manifests + listing), with
        both levels applied: global stats rollup across partitions,
        then each survivor's own bucket min/max/bloom pruning. MOR
        children report their pinned base's pruned count plus their
        live delta dirs' files (round 13 — the overlay is always
        read in full)."""
        parts = self._parts(version)
        total = 0
        for pval in self._stats_select(
            parts, self._select(parts, partitions), where
        ):
            child = self._child(parts[pval]["dir"])
            total += child.files_read(
                version=parts[pval]["version"], where=where
            )
        return total

    def probe(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        version: int | None = None,
    ) -> DataFrame:
        """Table-level PK-probe point read: partition-prune, then
        bucket-prune (the child's :meth:`ParquetMergeStore.probe`).

        Partition columns are PK columns (the table's routing
        invariant), so each probe key names its partition exactly — a
        batch of K keys opens only its partitions' children, and
        within each child only the keys' buckets. ONE driver job
        computes the distinct (partition, bucket) pairs for the whole
        key batch (metadata-sized: <= touched partitions x num_buckets
        rows); each touched child is then probed with its pre-computed
        bucket slice, so a K-partition probe costs O(1) driver jobs
        instead of K+1 sequential per-child collects (VERDICT r9 #5).
        Children absent from the manifest are no-ops; results align to
        the table schema (typed-null backfill across any evolution
        boundary). At 100 TB: a thousand-key probe touches a handful
        of dirs, never a listing of the table.
        """
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty partitioned store: {self.root}")
        lacking = [c for c in self.keys if c not in keys_df.columns]
        if lacking:
            raise ValueError(f"probe keys lack PK column(s) {lacking}")
        parts = self._parts(v)
        if not parts:
            raise ValueError(
                "no live partitions (all dropped); time-travel an older "
                "version to probe them"
            )
        # cast probe keys to the TABLE PK types before hashing: F.hash
        # is type-sensitive, so a drifted frame would bucket wrong and
        # silently report rows absent (ADVICE r9 - same law as the
        # child-level probe). Types come from the manifest record; a
        # legacy pre-record store derives them from one child's footer.
        tmap = dict(self._column_types_at(v))
        if any(c not in tmap for c in self.keys):
            any_p = sorted(parts)[0]
            child_schema = self._child(parts[any_p]["dir"]).read(
                spark, version=parts[any_p]["version"]
            ).schema
            for f in child_schema.fields:
                tmap.setdefault(f.name, f.dataType.simpleString())
        in_types = {
            f.name: f.dataType.simpleString()
            for f in keys_df.schema.fields
        }
        keys = keys_df.select(
            *[
                F.col(c).cast(tmap[c]).alias(c)
                if in_types.get(c) != tmap[c]
                else F.col(c)
                for c in self.keys
            ]
        ).distinct()
        # the ONE metadata-sized job: distinct (partition components,
        # bucket) pairs for the entire batch
        pexprs = [
            F.col(c).cast("string").alias(c) for c in self.partition_cols
        ]
        # the child's own routing expression (shared staticmethod —
        # inlining a copy here would let the two levels drift and
        # silently slice the wrong buckets)
        bexpr = ParquetMergeStore.bucket_expr(
            self.keys, self.num_buckets
        ).alias("__bucket")
        pair_rows = keys.select(*pexprs, bexpr).distinct().collect()

        def _pv(row) -> str | None:
            # a probe key whose partition value could never have been
            # WRITTEN ('/', NULL component, '|' on a multi-col store,
            # ...) simply matches nothing — the write-side validation
            # guarantees no partition exists for it, so the right
            # answer is "absent", not a ValueError aborting the batch
            if any(c is None for c in row):
                return None
            try:
                return _composite(row)
            except ValueError:
                return None

        pv_buckets = {}
        for r in pair_rows:
            pv = _pv(tuple(r[c] for c in self.partition_cols))
            if pv is not None and pv in parts:
                pv_buckets.setdefault(pv, set()).add(int(r["__bucket"]))
        hit = sorted(pv_buckets)
        if not hit:
            any_p = sorted(parts)[0]
            df = self._child(parts[any_p]["dir"]).read(
                spark, version=parts[any_p]["version"]
            )
            return self._aligned_union(spark, [df], v).limit(0)
        pcol = F.concat_ws(
            _SEP, *[F.col(c).cast("string") for c in self.partition_cols]
        )
        if self.child_store == "mor":
            # fused overlay probe (round 16): one base scan + one
            # delta fold + one semi-join for ALL era-eligible hit
            # children instead of a per-child overlay plan each
            frames, slow = self._mor_probe_frames(
                spark, parts, pv_buckets, hit, keys
            )
        else:
            frames, slow = self._cow_probe_frames(
                spark, parts, pv_buckets, hit, keys
            )
        dfs = frames + [
            self._child(parts[pv]["dir"]).probe(
                spark,
                keys.filter(pcol == pv),
                version=parts[pv]["version"],
                buckets=sorted(pv_buckets[pv]),
            )
            for pv in slow
        ]
        return self._aligned_union(spark, dfs, v)

    def _cow_probe_frames(
        self,
        spark: SparkSession,
        parts: dict,
        pv_buckets: dict,
        hit: list,
        keys: DataFrame,
    ) -> tuple[list[DataFrame], list]:
        """ONE fused bucket scan + semi-join per schema era for COW
        children (round 16 — the probe twin of :meth:`_era_scan_frames`
        and :meth:`_mor_probe_frames`): the per-child probe plans a
        scan + DV filter + semi-join PER HIT CHILD, so a key batch
        touching P partitions carries ~P-2P exchanges (q174 census:
        43 jobs per probe at 13 children). Fused, the hit children's
        hit BUCKET dirs scan once per era, their hit buckets' deletion
        vectors anti-join once, and one semi-join on the FULL PK —
        which contains the partition columns, so keys route to their
        own child's rows by construction — replaces the per-child
        joins. Per-child bucket pruning is preserved exactly (only the
        routed (partition, bucket) dirs are read). A child is
        fuse-eligible when its pinned manifest is un-evolved with the
        era's columns and its hit bucket/DV dirs are on disk; anything
        else — including a child none of whose hit buckets was ever
        written, whose per-child probe supplies the schema-only empty
        frame — returns in ``slow`` for the ordinary per-child probe.
        """
        eras: dict[tuple, dict] = {}
        slow: list = []
        for pv in hit:
            e = parts[pv]
            croot = os.path.join(self.root, e["dir"])
            child = self._child(e["dir"])
            v_c = int(e["version"])
            try:
                m = child._read_manifest(v_c)
            except (FileNotFoundError, ValueError):
                slow.append(pv)
                continue
            cols = list(m.get("columns") or [])
            if not cols or m.get("evolved", True):
                slow.append(pv)
                continue
            bpaths = {int(k): p for k, p in m["bucket_paths"].items()}
            wanted = set(pv_buckets[pv])
            hit_b = sorted(b for b in wanted if b in bpaths)
            if not hit_b:
                # no hit bucket written in this child: the per-child
                # probe supplies the schema-only empty frame
                slow.append(pv)
                continue
            dirs = sorted(
                {os.path.join(croot, bpaths[b]) for b in hit_b}
            )
            dv_dirs = sorted(
                {
                    os.path.join(croot, p)
                    for k, p in m.get("dv", {}).items()
                    if p and int(k) in wanted
                }
            )
            if not all(os.path.isdir(d) for d in (*dirs, *dv_dirs)):
                slow.append(pv)
                continue
            types = child.column_types(v_c)
            era = eras.setdefault(
                tuple((c, types[c]) for c in cols),
                {"dirs": [], "dv": [], "types": types},
            )
            era["dirs"].extend(dirs)
            era["dv"].extend(dv_dirs)
        frames: list[DataFrame] = []
        key_list = list(self.keys)
        for era_t, grp in sorted(eras.items(), key=lambda kv: kv[0]):
            cols = [c for c, _ in era_t]
            df = spark.read.schema(schema_ddl(cols, grp["types"])).parquet(
                *sorted(set(grp["dirs"]))
            )
            if grp["dv"]:
                dv = (
                    spark.read.schema(schema_ddl(key_list, grp["types"]))
                    .parquet(*sorted(set(grp["dv"])))
                    .select(
                        *[
                            F.col(k).alias(f"__dv_{k}")
                            for k in key_list
                        ]
                    )
                    .dropDuplicates()
                )
                cond = [
                    F.col(k).eqNullSafe(F.col(f"__dv_{k}"))
                    for k in key_list
                ]
                df = df.join(F.broadcast(dv), cond, "left_anti")
            frames.append(df.join(keys, key_list, "left_semi"))
        return frames, slow

    def _mor_probe_frames(
        self,
        spark: SparkSession,
        parts: dict,
        pv_buckets: dict,
        hit: list,
        keys: DataFrame,
    ) -> tuple[list[DataFrame], list]:
        """ONE fused overlay probe per schema era for MOR children
        (round 16 — the probe twin of :meth:`_mor_era_frames`): the
        per-child :meth:`MergeOnReadStore.probe` plans a delta fold +
        base probe + anti-join PER CHILD, so a table probe whose key
        batch touches P partitions carries ~2P exchanges (q198's CDC
        pre-state: 13 children ⇒ ~27 AQE stage jobs). Fused, the hit
        children's pinned delta dirs fold in one window and their hit
        BUCKET dirs scan once, with the probe's semi-join keyed on the
        full PK — partition columns are PK columns, so keys route to
        their own child's rows by construction and no per-child key
        slicing is needed.

        Per-child bucket pruning is preserved exactly: only the
        (partition, bucket) pairs the table-level routing computed are
        scanned, and only those buckets' deletion vectors anti-join
        (extra DV keys would be harmless — a PK's bucket is a function
        of the PK — but cost I/O). Every scan passes an explicit
        schema built from the entry's recorded column/type map, so the
        fused probe also skips the per-directory footer-inference
        driver jobs the per-child plans paid. A child is fuse-eligible
        when its entry records columns AND types, its delta dirs are
        on disk, and its base (if any) is un-evolved with the entry's
        columns and its hit bucket/DV dirs on disk; anything else —
        including an emptied child, whose per-child probe supplies the
        typed empty frame / descriptive error — returns in ``slow``.
        """
        from parquet_demo_spark.sources.merge_store import _load_manifest
        from parquet_demo_spark.sources.mor_store import _OP, _SEQ

        eras: dict[tuple, dict] = {}
        slow: list = []
        for pv in hit:
            e = parts[pv]
            croot = os.path.join(self.root, e["dir"])
            child = self._child(e["dir"])
            try:
                state = child._entry_state(int(e["version"]))
            except (ValueError, KeyError, FileNotFoundError):
                slow.append(pv)
                continue
            cols = state.get("columns")
            types = state.get("types")
            if (
                not cols
                or not types
                or any(c not in types for c in cols)
                or any(k not in types for k in self.keys)
            ):
                slow.append(pv)
                continue
            delta_paths = [
                os.path.join(croot, "deltas", d)
                for d in (state.get("dirs") or [])
            ]
            if not all(os.path.isdir(p) for p in delta_paths):
                slow.append(pv)
                continue
            bv = state.get("base_version")
            base_dirs: list[str] = []
            dv_dirs: list[str] = []
            if bv is not None:
                try:
                    m = _load_manifest(
                        os.path.join(
                            croot,
                            "base",
                            f"v{int(bv):05d}",
                            "manifest.json",
                        )
                    )
                except (FileNotFoundError, ValueError):
                    slow.append(pv)
                    continue
                if (
                    m.get("evolved", True)
                    or list(m.get("columns") or []) != list(cols)
                ):
                    slow.append(pv)
                    continue
                bpaths = {
                    int(k): p for k, p in m["bucket_paths"].items()
                }
                wanted = set(pv_buckets[pv])
                base_dirs = sorted(
                    {
                        os.path.join(croot, "base", bpaths[b])
                        for b in wanted
                        if b in bpaths
                    }
                )
                dv_dirs = sorted(
                    {
                        os.path.join(croot, "base", p)
                        for k, p in m.get("dv", {}).items()
                        if p and int(k) in wanted
                    }
                )
                if not all(
                    os.path.isdir(d) for d in (*base_dirs, *dv_dirs)
                ):
                    slow.append(pv)
                    continue
            if not base_dirs and not delta_paths:
                # emptied child (or no hit bucket written): the
                # per-child probe supplies the typed empty frame
                slow.append(pv)
                continue
            era = eras.setdefault(
                (
                    tuple(cols),
                    tuple(sorted((c, types[c]) for c in cols)),
                ),
                {"base": [], "dv": [], "delta": [], "types": types},
            )
            era["base"].extend(base_dirs)
            era["dv"].extend(dv_dirs)
            era["delta"].extend(enumerate(delta_paths))
        frames: list[DataFrame] = []
        key_list = list(self.keys)
        for (cols_t, _), grp in sorted(
            eras.items(), key=lambda kv: kv[0]
        ):
            cols = list(cols_t)
            types = grp["types"]
            base = (
                spark.read.schema(schema_ddl(cols, types)).parquet(
                    *sorted(set(grp["base"]))
                )
                if grp["base"]
                else None
            )
            if base is not None and grp["dv"]:
                dv = (
                    spark.read.schema(schema_ddl(key_list, types))
                    .parquet(*sorted(set(grp["dv"])))
                    .select(
                        *[
                            F.col(k).alias(f"__dv_{k}")
                            for k in key_list
                        ]
                    )
                    .dropDuplicates()
                )
                cond = [
                    F.col(k).eqNullSafe(F.col(f"__dv_{k}"))
                    for k in key_list
                ]
                base = base.join(F.broadcast(dv), cond, "left_anti")
            if base is not None:
                base = base.join(keys, key_list, "left_semi")
            if not grp["delta"]:
                if base is not None:
                    frames.append(base)
                continue
            reader = spark.read.schema(
                schema_ddl(cols, types, f"`{_OP}` string")
            )
            fr = [
                reader.parquet(p).withColumn(_SEQ, F.lit(i).cast("bigint"))
                for i, p in grp["delta"]
            ]
            while len(fr) > 1:
                fr = [
                    fr[i].unionByName(fr[i + 1])
                    if i + 1 < len(fr)
                    else fr[i]
                    for i in range(0, len(fr), 2)
                ]
            from pyspark.sql import Window as _W

            w = _W.partitionBy(*key_list).orderBy(F.col(_SEQ).desc())
            latest = (
                fr[0]
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", _SEQ)
                .join(keys, key_list, "left_semi")
            )
            ups = latest.filter(F.col(_OP) == "u").select(*cols)
            if base is None:
                frames.append(ups)
            else:
                keep = base.join(
                    latest.select(*key_list), key_list, "left_anti"
                )
                frames.append(keep.select(*cols).unionByName(ups))
        return frames, slow

    def count_rows(
        self,
        version: int | None = None,
        partitions: tuple | dict | None = None,
    ) -> int:
        """Footer-metadata row count over the selected partitions.
        COW children only: a MOR child's count must resolve the delta
        overlay (use ``read(...).count()``)."""
        self._require_cow("count_rows")
        parts = self._parts(version)
        return sum(
            self._child(parts[p]["dir"]).count_rows(
                version=parts[p]["version"]
            )
            for p in self._select(parts, partitions)
        )

    # -- CDC across global versions ----------------------------------------

    def changes_between(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Net row changes between two global versions, Delta-CDF-tagged.

        Per partition present in both AT THE SAME CHILD DIR: the
        child's ``changes_between`` over its recorded versions
        (O(changed buckets)). A partition only in ``v_to`` contributes
        its full snapshot as inserts; one only in ``v_from`` — i.e.
        dropped, the retention path — contributes its old snapshot as
        deletes; present in both but at DIFFERENT dirs (dropped and
        later re-created — a new epoch) nets the old snapshot as
        deletes plus the new one as inserts. Downstream consumers see
        retention as ordinary CDC delete rows without the drop itself
        having touched any data file.
        """
        from parquet_demo_spark.sources.merge_store import changes_between

        p_from = self._parts(v_from)
        p_to = self._parts(v_to)

        def _snap(entry, tag):
            return (
                self._child(entry["dir"])
                .read(spark, version=entry["version"])
                .withColumn("_change_type", F.lit(tag))
            )

        outs = []
        mor_candidates: list = []
        cow_candidates: list = []
        for pval in sorted(set(p_from) | set(p_to)):
            a, b = p_from.get(pval), p_to.get(pval)
            if a and b and a["dir"] == b["dir"]:
                if a["version"] != b["version"]:
                    child = self._child(a["dir"])
                    if self.child_store == "mor":
                        # the MOR child's own log-entry diff — O(Δ)
                        # on the append-only spans every table
                        # merge/delete commits (VERDICT r12 #2).
                        # Candidates collect first: when every changed
                        # child's span is fast-diffable in the same
                        # schema era, ONE fused plan replaces the
                        # per-child diffs (round 16 — see
                        # _mor_fused_cdc); stragglers fall back to the
                        # per-child diff below.
                        mor_candidates.append((pval, child, a, b))
                    else:
                        cow_candidates.append((pval, child, a, b))
            elif a and b:  # drop + re-create: different epoch dirs
                outs.append(_snap(a, "delete"))
                outs.append(_snap(b, "insert"))
            elif b:
                outs.append(_snap(b, "insert"))
            else:
                outs.append(_snap(a, "delete"))
        if mor_candidates:
            outs.extend(
                self._mor_fused_cdc(
                    spark, mor_candidates, v_from, v_to, include_preimages
                )
            )
        if cow_candidates:
            outs.extend(
                self._cow_fused_cdc(
                    spark, cow_candidates, v_from, v_to, include_preimages
                )
            )
        if not outs:
            any_p = sorted(p_from or p_to)[0]
            entry = (p_from or p_to)[any_p]
            snap = self._child(entry["dir"]).read(
                spark, version=entry["version"]
            )
            return snap.withColumn("_change_type", F.lit("none")).limit(0)
        # align to the WIDER endpoint's table schema (+ the CDC tag):
        # across an evolution boundary, pre-evolution children's change
        # rows lack the new columns — typed-null backfill, same law as
        # read()
        wide = (
            v_to
            if len(self._columns_at(v_to)) >= len(self._columns_at(v_from))
            else v_from
        )
        return self._aligned_union(
            spark, outs, wide, extra_cols=("_change_type",)
        )

    def _cow_fused_cdc(
        self,
        spark: SparkSession,
        candidates: list,
        v_from: int,
        v_to: int,
        include_preimages: bool,
    ) -> list[DataFrame]:
        """Fuse the changed COW children's manifest-pruned snapshot
        diffs into ONE global plan (round 16, guide §2.4 — the COW
        twin of :meth:`_mor_fused_cdc`): the per-child
        :func:`~parquet_demo_spark.sources.merge_store.changes_between`
        plans two changed-bucket scans, a presence read and a
        classification join PER CHILD, so a table CDC over P changed
        partitions carries ~2-3P exchanges (q159 census: 30 jobs at
        13 children). Fused, the OLD sides, NEW sides and presence
        reads of all eligible children each scan once, and one
        shared-law classification emits the feed.

        Sound for the same reason as every fusion here: partition
        columns are PK columns, so the classification and
        delete-presence joins — keyed on the full PK, null-safe —
        never match rows across children. The per-child bucket
        pruning is preserved exactly (only manifest-changed bucket
        dirs are read, per side, per child). A child is fuse-eligible
        when both endpoint manifests are un-evolved with the TABLE's
        (uniform) columns, its bucket count is unchanged inside the
        span (no rebucket — old keys then hash to their own
        changed_old ids under v_to, so the presence read needs no
        per-child collect), and the referenced dirs are on disk;
        anything else falls back to the per-child diff. Every fused
        scan reads with the table's recorded types (the merge path
        never lets a child retype a column); a table without a
        complete record fuses nothing. Deletion vectors fuse: each
        side anti-joins the union of its children's relevant DV dirs,
        the per-child ``_apply_dv`` contract era-wide.
        """
        from parquet_demo_spark.sources.cdc import classify_changes
        from parquet_demo_spark.sources.merge_store import (
            changes_between,
        )

        cols = list(self._columns_at(v_to))
        keys = list(self.keys)
        types = self._column_types_at(v_to)
        uniform = cols == list(self._columns_at(v_from)) and all(
            c in types for c in cols
        )

        grp = {
            "new": [],
            "old": [],
            "pres": [],
            "dv_new": [],
            "dv_old": [],
            "dv_pres": [],
        }
        fallback: list[DataFrame] = []
        any_fused = False
        for pval, child, a, b in candidates:
            vf, vt = int(a["version"]), int(b["version"])
            eligible = uniform
            if eligible:
                try:
                    mf = child._read_manifest(vf)
                    mt = child._read_manifest(vt)
                except (FileNotFoundError, ValueError):
                    eligible = False
                else:
                    eligible = (
                        not mf.get("evolved", True)
                        and not mt.get("evolved", True)
                        and list(mf.get("columns") or []) == cols
                        and list(mt.get("columns") or []) == cols
                        and mf.get("num_buckets", child.num_buckets)
                        == mt.get("num_buckets", child.num_buckets)
                    )
            if eligible:
                old_paths = child._bucket_paths(vf)
                new_paths = child._bucket_paths(vt)
                dv_f = child._dv_entries(vf)
                dv_t = child._dv_entries(vt)
                changed = sorted(
                    bid
                    for bid, p in new_paths.items()
                    if old_paths.get(bid) != p
                    or dv_f.get(bid) != dv_t.get(bid)
                )
                changed_old = sorted(
                    bid
                    for bid, p in old_paths.items()
                    if new_paths.get(bid) != p
                    or dv_f.get(bid) != dv_t.get(bid)
                )
                croot = os.path.join(self.root, a["dir"])

                def _dirs(paths, bids):
                    return [
                        os.path.join(croot, paths[bid])
                        for bid in bids
                        if bid in paths
                    ]

                add = {
                    "new": _dirs(new_paths, changed),
                    "old": _dirs(old_paths, changed_old),
                    "pres": _dirs(new_paths, changed_old),
                    "dv_new": [
                        os.path.join(croot, p)
                        for bid, p in dv_t.items()
                        if p and bid in set(changed)
                    ],
                    "dv_old": [
                        os.path.join(croot, p)
                        for bid, p in dv_f.items()
                        if p and bid in set(changed_old)
                    ],
                    "dv_pres": [
                        os.path.join(croot, p)
                        for bid, p in dv_t.items()
                        if p and bid in set(changed_old)
                    ],
                }
                if all(
                    os.path.isdir(d) for ds in add.values() for d in ds
                ):
                    if changed or changed_old:
                        for k2, ds in add.items():
                            grp[k2].extend(ds)
                        any_fused = True
                    # a version bump with no bucket/DV change emits
                    # nothing — same rows as the per-child limit(0)
                    continue
                eligible = False
            fallback.append(
                changes_between(
                    child,
                    spark,
                    vf,
                    vt,
                    include_preimages=include_preimages,
                )
            )
        if not any_fused:
            return fallback

        key_list = keys

        def _dv_filter(df: DataFrame, dv_dirs: list[str]) -> DataFrame:
            if df is None or not dv_dirs:
                return df
            dv = (
                spark.read.schema(schema_ddl(key_list, types))
                .parquet(*sorted(set(dv_dirs)))
                .select(
                    *[F.col(k).alias(f"__dv_{k}") for k in key_list]
                )
                .dropDuplicates()
            )
            cond = [
                F.col(k).eqNullSafe(F.col(f"__dv_{k}"))
                for k in key_list
            ]
            return df.join(F.broadcast(dv), cond, "left_anti")

        def _scan(dirs: list[str], dv_key: str) -> DataFrame | None:
            if not dirs:
                return None
            df = spark.read.schema(schema_ddl(cols, types)).parquet(
                *sorted(set(dirs))
            )
            return _dv_filter(df, grp[dv_key])

        new = _scan(grp["new"], "dv_new")
        old = _scan(grp["old"], "dv_old")
        if old is None:
            fallback.append(
                classify_changes(
                    None, new, None, cols, key_list, include_preimages
                )
            )
            return fallback
        presence = _scan(grp["pres"], "dv_pres")
        if presence is None:
            gone = old
        else:
            pres_keys = presence.select(
                *[F.col(k).alias(f"__new_{k}") for k in key_list]
            )
            gone = old.join(
                pres_keys,
                [
                    F.col(k).eqNullSafe(F.col(f"__new_{k}"))
                    for k in key_list
                ],
                "left_anti",
            )
        if new is None:
            fallback.append(
                classify_changes(
                    None,
                    old.limit(0),
                    gone,
                    cols,
                    key_list,
                    include_preimages,
                )
            )
        else:
            fallback.append(
                classify_changes(
                    old, new, gone, cols, key_list, include_preimages
                )
            )
        return fallback

    def _mor_fused_cdc(
        self,
        spark: SparkSession,
        candidates: list,
        v_from: int,
        v_to: int,
        include_preimages: bool,
    ) -> list[DataFrame]:
        """Fuse the changed MOR children's O(Δ) log diffs into ONE
        global plan (round 16, guide §2.4 — the CDC twin of
        :meth:`_mor_era_frames`): the per-child diff plans one delta
        fold + one bucket-probe + one classification join PER CHILD,
        and the child-level probe additionally pays a bucket-id
        collect job per child, so a table CDC read over P changed
        partitions costs ~4-5P jobs (q198 census: 60 jobs at 13
        children). Fused, the appended delta dirs of ALL eligible
        children fold in one window, the pre-state resolves through
        ONE table-level :meth:`probe` (single pair-collect for the
        whole batch), and one shared-law classification emits the
        feed.

        Correctness rests on the same two invariants as the fused
        read: partition columns are PK columns, so the global delta
        fold's window and the classification join — both keyed on the
        FULL PK — never mix rows across children (each child's
        ``__seq`` only orders rows within its own key space), and
        ``commit_delta`` validates every appended batch against the
        child's recorded column/type map. A child is fuse-eligible
        when its span is fast-diffable (:meth:`MergeOnReadStore.
        _span_append_dirs` — appends/compacts only), its entry records
        the SAME column set as the table schema at both endpoints (no
        evolution inside the span — the pre-state then needs no
        per-child null backfill), and its appended dirs are on disk;
        the appended dirs read with the table's recorded types (a
        table without a complete record fuses nothing).
        Ineligible children keep the per-child diff via the returned
        fallback frames; children whose span appended nothing
        contribute no rows either way and are skipped outright.
        """
        from parquet_demo_spark.sources.mor_store import (
            _OP,
            _SEQ,
            MergeOnReadStore,
        )

        cols = list(self._columns_at(v_to))
        keys = list(self.keys)
        types = self._column_types_at(v_to)
        uniform = cols == list(self._columns_at(v_from)) and all(
            c in types for c in cols
        )

        fused_paths: list[list[str]] = []
        fallback: list[DataFrame] = []
        for pval, child, a, b in candidates:
            e_from, e_to = int(a["version"]), int(b["version"])
            eligible = uniform
            paths: list[str] = []
            if eligible:
                try:
                    s_from = child._entry_state(e_from)
                    s_to = child._entry_state(e_to)
                except (ValueError, KeyError, FileNotFoundError):
                    eligible = False
                else:
                    nd = child._span_append_dirs(e_from, e_to, s_from)
                    c_cols = s_to.get("columns")
                    if nd is None or list(c_cols or []) != cols:
                        eligible = False
                    else:
                        paths = [
                            os.path.join(child._deltas_root, d)
                            for d in nd
                        ]
                        if not all(os.path.isdir(p) for p in paths):
                            eligible = False
            if not eligible:
                fallback.append(
                    child.changes_between(
                        spark,
                        e_from,
                        e_to,
                        include_preimages=include_preimages,
                    )
                )
            elif paths:
                fused_paths.append(paths)
        if not fused_paths:
            return fallback
        # one balanced union over every child's appended dirs, each
        # tagged with its position in ITS OWN child's log (the same
        # per-dir seq law as _mor_era_frames — cross-child positions
        # never compare because the window keys contain the partition
        # columns)
        reader = spark.read.schema(
            schema_ddl(cols, types, f"`{_OP}` string")
        )
        fr = [
            reader.parquet(p).withColumn(_SEQ, F.lit(i).cast("bigint"))
            for paths in fused_paths
            for i, p in enumerate(paths)
        ]
        while len(fr) > 1:
            fr = [
                fr[i].unionByName(fr[i + 1])
                if i + 1 < len(fr)
                else fr[i]
                for i in range(0, len(fr), 2)
            ]
        from pyspark.sql import Window as _W

        w = _W.partitionBy(*keys).orderBy(F.col(_SEQ).desc())
        latest = (
            fr[0]
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", _SEQ)
            # the table probe's pair collect materializes the fold
            # once; classification reuses it (the child-level
            # fast path's own lazy-checkpoint law)
            .localCheckpoint(eager=False)
        )
        # pre-state: ONE bucket-pruned table probe of the v_from
        # snapshot for every candidate key across all fused children —
        # the per-child probes' bucket collects collapse into the
        # table probe's single pair job
        pre = self.probe(
            spark, latest.select(*keys), version=v_from
        ).select(*cols)
        post_u = latest.filter(F.col(_OP) == "u").select(*cols)
        post_d = latest.filter(F.col(_OP) == "d").select(*keys)
        fallback.append(
            MergeOnReadStore._cdc_emit(
                pre, post_u, post_d, cols, keys, include_preimages
            )
        )
        return fallback

    # -- maintenance --------------------------------------------------------

    @scoped_store_op(None, "spark")
    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
        cluster_by: list[str] | None = None,
        files_per_bucket: int = 4,
    ) -> int | None:
        """OPTIMIZE: compact every live child store (each child's
        snapshot-isolated, CDC-silent compaction), then commit ONE
        global version pinning the compacted children.

        ``cluster_by`` forwards the child's OPTIMIZE ... ZORDER BY:
        every child rewrites clustered on the Morton curve over the
        listed columns and records per-file min/max boxes, so a
        ``where`` box read skips files inside every partition — each
        date of a 100 TB table gets its own within-partition file
        skipping. Returns the new global version, or None if nothing
        was fragmented enough to touch (no version burns — the no-op
        law).
        """
        if self.child_store == "mor" and cluster_by is not None:
            raise ValueError("cluster_by requires copy-on-write children")
        cur = self.current_version()
        parts = self._parts(cur)

        def _compact_one(pval: str) -> dict | None:
            child = self._child(parts[pval]["dir"])
            # only compact the child version this table pins — a child
            # pointer ahead of the pin (crashed writer) must not leak in
            if child.current_version() != parts[pval]["version"]:
                return None
            if self.child_store == "mor":
                # fold the child's delta log into its base; the
                # truncation commits a new log entry, which becomes
                # the new pin (no live deltas -> no entry, no burn)
                if child.delta_count() == 0:
                    return None
                child.compact(spark)
                return {**parts[pval], "version": child.current_version()}
            v = child.compact(
                spark,
                min_files=min_files,
                cluster_by=cluster_by,
                files_per_bucket=files_per_bucket,
            )
            if v is None:
                return None
            return {
                **parts[pval],
                "version": v,
                "stats": self._child_stats_rollup(child, v),
                "blooms": self._child_blooms_rollup(child, v),
            }

        # children are independent directories + commit domains: fan
        # the per-child compactions across the write pool exactly like
        # merge()/delete_where() — the serial loop paid each child's
        # fold/rewrite jobs back-to-back (round-12 store-suite
        # overhead audit, VERDICT r11 #7)
        touched = []
        if parts:
            with ThreadPoolExecutor(
                max_workers=min(self.write_concurrency, len(parts))
            ) as pool:
                futs = {
                    p: pool.submit(_compact_one, p) for p in sorted(parts)
                }
                for pval in sorted(parts):
                    entry = futs[pval].result()
                    if entry is not None:
                        parts[pval] = entry
                        touched.append(pval)
        if not touched:
            return None
        new_version = cur + 1
        return self._commit(
            new_version,
            parts,
            "compact",
            {
                "min_files": min_files,
                "cluster_by": list(cluster_by or ()),
                "touched": touched,
            },
        )

    def clean_orphans(self) -> list[str]:
        """Remove global manifest dirs ABOVE the committed pointer — the
        residue of a writer that crashed after winning the O_EXCL CAS
        but before the pointer swap (the child store's clean_orphans,
        one level up), plus any ``_staging.*`` dirs a crashed merge's
        routing write left behind. Orphan CHILD versions are reclaimed
        by each child's own clean_orphans/vacuum. Only run when no
        writer is active."""
        import shutil

        cur = self.current_version()
        removed = []
        for d in sorted(os.listdir(self.root)):
            if d.startswith("v") and d[1:].isdigit():
                v = int(d[1:])
                if cur is None or v > cur:
                    shutil.rmtree(os.path.join(self.root, d))
                    removed.append(d)
            elif d.startswith("_staging."):
                shutil.rmtree(os.path.join(self.root, d))
                removed.append(d)
        return removed

    def vacuum(
        self, keep_last: int = 1, older_than: float | None = None
    ) -> list[str]:
        """Remove child directories of partitions referenced by NO kept
        global manifest, AND the global manifest dirs below the keep
        window — so time travel never resolves a version whose child
        dirs may be gone and then dies mid-read; it fails up front with
        the descriptive "never committed, or removed by vacuum" error
        (the child store's own vacuum convention, one level up). Live
        children are left to their own vacuum. Returns removed dirs
        (partition and version).

        ``older_than`` (ABSOLUTE unix timestamp — Iceberg's
        ``expireSnapshots(olderThan=...)``) widens retention past
        ``keep_last``: every version committed at or after the cutoff
        is kept. ``committed_at`` is monotonic so the kept set stays a
        contiguous suffix; a legacy manifest with no ``committed_at``
        is kept (never expire data whose age can't be proven); the
        head never expires. Same clone caveat as the child store:
        expiring source versions a shallow clone pins can strand the
        clone; a clone's own vacuum never crosses into the source."""
        import shutil

        cur = self.current_version()
        if cur is None:
            return []
        committed = [
            v
            for v in range(0, cur + 1)
            if os.path.exists(self._manifest_path(v))
        ]
        keep = set(committed[-keep_last:])
        if older_than is not None:
            # same retention law as the child store: a version is kept
            # when its committed_at is at/after the cutoff OR it has no
            # committed_at at all (legacy manifest — never expire data
            # whose age can't be proven, even below a dated-old
            # version; a contiguous-window walk would drop it)
            for v in committed:
                if v in keep:
                    continue
                at = self._read_manifest(v).get("committed_at")
                if at is None or at >= older_than:
                    keep.add(v)
        keep.add(cur)
        live = set()
        for v in sorted(keep):
            live |= {
                e["dir"]
                for e in self._read_manifest(v)["partitions"].values()
            }
        # reference-aware pass (round 12, the table-WAP analog of the
        # child store's ADVICE r11 vacuum fix): a published branch
        # child moved into the table root still holds clone-v0
        # ABSOLUTE refs into the PRE-publish production child's data
        # dirs for buckets the branch never rewrote. This sweep is
        # DIR-level, so it must treat a sibling dir as live while any
        # kept-pinned child's manifest references data under it —
        # otherwise expiring the old entry's versions would rmtree a
        # dir the published head still reads through. Metadata-sized:
        # one child-manifest read per distinct (dir, pinned version).
        root_pfx = os.path.abspath(self.root) + os.sep
        seen: set[tuple[str, int]] = set()
        # MOR children hold the same cross-dir ref kind since round 14:
        # a published branch child's BASE is a clone whose v0 manifest
        # references the pre-publish production child's base data dirs
        # (its deltas are copied, never referenced) — resolve the
        # pinned ENTRY to its base version and sweep that base manifest
        for v in sorted(keep):
            for e in self._read_manifest(v)["partitions"].values():
                pin = (e["dir"], int(e["version"]))
                if pin in seen:
                    continue
                seen.add(pin)
                child = self._child(e["dir"])
                if self.child_store == "mor":
                    try:
                        st = child._entry_state(pin[1])
                    except ValueError:
                        continue  # vacuumed inside the child
                    bv = (
                        st["base_version"]
                        if "base_version" in st
                        else child.base.current_version()
                    )
                    if bv is None:
                        continue  # delta-only child: no base refs
                    ref_store = child.base
                    try:
                        cm = ref_store._read_manifest(int(bv))
                    except (FileNotFoundError, ValueError):
                        continue
                else:
                    ref_store = child
                    try:
                        cm = ref_store._read_manifest(pin[1])
                    except (FileNotFoundError, ValueError):
                        continue  # vacuumed inside the child
                croot = os.path.abspath(child.root) + os.sep
                for p in list(
                    cm.get("bucket_paths", {}).values()
                ) + list(cm.get("dv", {}).values()):
                    ap = os.path.abspath(
                        p
                        if os.path.isabs(p)
                        else os.path.join(ref_store.root, p)
                    )
                    if ap.startswith(root_pfx) and not ap.startswith(
                        croot
                    ):
                        live.add(
                            os.path.relpath(ap, self.root).split(
                                os.sep, 1
                            )[0]
                        )
        removed = []
        for d in sorted(os.listdir(self.root)):
            if d.startswith("p=") and d not in live:
                shutil.rmtree(os.path.join(self.root, d))
                removed.append(d)
            elif (
                d.startswith("v")
                and d[1:].isdigit()
                and int(d[1:]) <= cur
                and int(d[1:]) not in keep
            ):
                shutil.rmtree(os.path.join(self.root, d))
                removed.append(d)
        return removed
