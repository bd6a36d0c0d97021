"""Merge-on-read (MOR) overlay for :class:`ParquetMergeStore`.

The base store's :meth:`~ParquetMergeStore.merge` is copy-on-write:
every batch rewrites each touched bucket, so the per-batch cost of a
high-frequency maintenance stream grows with BUCKET size, not batch
size (measured directly in BASELINE.md's round-10 streaming-applier
tiers: the term-keyed text batch touches all buckets, and its applier
cost rose 1.72× across a 100× index at fixed bucket count). That is
the classic copy-on-write trade: perfect reads, write amplification.

``MergeOnReadStore`` is the other side of the trade, the public
Hudi MOR / Iceberg v2 merge-on-read design re-expressed on the same
primitives:

- :meth:`commit_delta` appends the batch AS IS to a delta log —
  cost O(batch), no bucket read, no bucket rewrite, regardless of
  base size. Rows carry an op ('u' upsert / 'd' delete); commit
  order is the log-entry chain's total order.
- :meth:`read` / :meth:`probe` resolve last-write-wins AT READ TIME:
  the newest delta action per PK wins over the base snapshot
  (matching merge()'s unconditional replace-by-PK across commits;
  within one batch the usual version_cols LWW collapse applies).
  Read overhead is O(live delta rows) — bounded by compaction cadence.
- :meth:`compact` folds the resolved deltas into the base (one
  bucket-pruned COW merge + a DV-based key delete) and truncates the
  log — the amortized rewrite, paid once per cadence instead of once
  per batch.

Concurrency: the delta log uses the SAME optimistic-concurrency
convention as the base store's manifests (merge_store.py:458). Each
log mutation writes an immutable FULL-STATE entry file
``_log/e{n:08d}.json`` with O_EXCL — entry creation is the CAS — then
swaps the ``_DELTAS.json`` head pointer (monotonic, like the base's
``_latest``). A writer that loses the CAS to a COMMITTED competitor
rebases automatically: delta appends have disjoint footprints by
construction (each appends its own directory; sequence numbers are
re-derived from the new head), and compaction's truncation re-filters
the new head's directory list so concurrently appended deltas
survive. A CAS loss against a NON-committed entry (a crashed writer's
orphan) raises :class:`ConcurrentWriteConflict` naming
:meth:`clean_orphans`, exactly like the base store.

Crash-safety: a delta directory is fully written BEFORE the log
entry commits — a crash mid-write leaves an orphan directory no
entry references (cleaned by :meth:`vacuum`). A crash between entry
creation and the pointer swap leaves an orphan ENTRY
(:meth:`clean_orphans`). Compaction truncates the log LAST; replaying
still-listed deltas over the already-compacted base is idempotent
(the resolved winners equal the base rows, and a delete's PK is
already absent), so a crash between the base commits and the
truncation re-reads correctly and the next compact is a no-op fold.

Reference parity note: the reference repo (alxmancilla/parquet-demo)
has no mutable-store surface at all; this extends the engine's R14
upsert family per the charter, following the public Hudi/Iceberg MOR
designs.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_demo_spark.sources.cdc import classify_changes
from parquet_demo_spark.sources.merge_store import (
    ConcurrentWriteConflict,
    ParquetMergeStore,
    apply_where_ranges,
    schema_ddl,
)
from parquet_demo_spark.sources.mongo import collapse_for_upsert
from parquet_demo_spark.tuning import scoped_store_op

_OP = "__op"
_SEQ = "__seq"


class MergeOnReadStore:
    """A :class:`ParquetMergeStore` plus an append-only delta log,
    resolved last-write-wins at read time (Hudi MOR shape)."""

    def __init__(
        self,
        root: str,
        keys: tuple[str, ...],
        version_cols: tuple[str, ...] = (),
        num_buckets: int = 8,
    ) -> None:
        self.root = root
        self.keys = tuple(keys)
        self.version_cols = tuple(version_cols)
        self.num_buckets = int(num_buckets)
        self.base = ParquetMergeStore(
            os.path.join(root, "base"),
            keys=self.keys,
            version_cols=self.version_cols,
            num_buckets=num_buckets,
        )
        self._deltas_root = os.path.join(root, "deltas")
        self._entries_root = os.path.join(root, "_log")
        self._changes_root = os.path.join(root, "changes")
        os.makedirs(self._deltas_root, exist_ok=True)
        os.makedirs(self._entries_root, exist_ok=True)

    # --- delta log: immutable O_EXCL entry chain + head pointer ---

    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_DELTAS.json")

    def _entry_path(self, n: int) -> str:
        return os.path.join(self._entries_root, f"e{n:08d}.json")

    def _log(self) -> dict:
        """Committed log state: ``{seq, dirs, [columns, types], entry}``.

        The head pointer names the committed entry number; the entry
        file carries the full state (so readers never reconstruct from
        a scan). A pre-round-11 store whose pointer still holds the
        full state dict reads as entry -1 — its first new commit
        migrates it onto the chain at entry 0.
        """
        try:
            with open(self._pointer_path()) as f:
                head = json.load(f)
        except FileNotFoundError:
            return {"seq": -1, "dirs": [], "entry": -1}
        if isinstance(head, dict) and "dirs" in head:  # legacy pointer
            return {**head, "entry": -1}
        n = int(head["entry"] if isinstance(head, dict) else head)
        with open(self._entry_path(n)) as f:
            return {**json.load(f), "entry": n}

    def _swap_pointer(self, entry: int) -> None:
        # commit point with the base store's monotonic fix-up
        # (merge_store.py:496): two racing replaces can land out of
        # order, and a pointer regression would make the newer
        # committed entry look like an orphan
        while True:
            fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_DELTAS.")
            with os.fdopen(fd, "w") as f:
                json.dump({"entry": entry}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._pointer_path())
            cur = self._log()["entry"]
            if cur >= entry:
                break

    def _commit_log(self, mutate) -> dict:
        """Commit ``mutate(committed_state) -> new_state`` with the
        base store's optimistic-concurrency convention: O_EXCL entry
        creation is the CAS; a loser against a COMMITTED head re-reads
        and re-applies ``mutate`` (delta appends and truncations are
        always rebase-safe — see module docstring); a loser against an
        orphan entry raises :class:`ConcurrentWriteConflict`."""
        while True:
            log = self._log()
            new = dict(mutate(log))
            new.pop("entry", None)
            # every entry records the base version it overlays (round
            # 12): entry-pinned reads (read(version=)) resolve the
            # base AS OF the entry, so a later compact's base advance
            # cannot leak into a pinned snapshot. mutate may override
            # (restore preserves the PINNED base, not the live one).
            new.setdefault(
                "base_version", self.base.current_version()
            )
            entry = log["entry"] + 1
            try:
                fh = open(self._entry_path(entry), "x")
            except FileExistsError:
                if self._log()["entry"] >= entry:
                    continue  # competitor committed: rebase on new head
                raise ConcurrentWriteConflict(
                    f"log entry {entry} exists but is not committed: a "
                    "concurrent writer is mid-commit, or a crashed "
                    "commit left an orphan (clean_orphans() removes it "
                    "if no writer is active)"
                ) from None
            with fh:
                json.dump(new, fh)
                fh.flush()
                os.fsync(fh.fileno())
            self._swap_pointer(entry)
            return {**new, "entry": entry}

    def delta_count(self) -> int:
        return len(self._log()["dirs"])

    def current_version(self) -> int | None:
        """Committed LOG ENTRY number — the store's version for the
        partitioned table's pin protocol (round 12). Every state
        change commits an entry (appends, truncations, restores), so
        the entry number totally orders the store's history the way
        the base store's manifest version does. ``None`` for a store
        with no committed entry (empty, or legacy base-only)."""
        e = self._log()["entry"]
        return None if e < 0 else e

    def _entry_state(self, n: int) -> dict:
        """The committed full state at entry ``n`` — raises the
        descriptive expired error when the entry file is gone
        (vacuumed) or was never committed."""
        head = self._log()["entry"]
        if n < 0 or n > head:
            raise ValueError(
                f"log entry {n} does not exist in {self.root} "
                f"(committed head: {head})"
            )
        try:
            with open(self._entry_path(n)) as f:
                return {**json.load(f), "entry": n}
        except FileNotFoundError:
            raise ValueError(
                f"log entry {n} in {self.root} was removed by "
                "vacuum(keep_last=...)"
            ) from None

    def restore(self, target: int) -> int:
        """Re-commit entry ``target``'s state as a NEW entry — the
        base store's metadata-only restore, on the log chain. The
        partitioned table's ``_pinned_child`` fencing uses this: a
        crashed global writer leaves child entries above the pin, and
        the next write must build on the pinned state, never fold the
        aborted entries in. The restored entry preserves the TARGET's
        ``base_version`` stamp (an aborted compact may have advanced
        the live base past the pin)."""
        head = self._log()["entry"]
        if target == head:
            return head
        state = self._entry_state(target)
        missing = [
            d
            for d in state["dirs"]
            if not os.path.isdir(os.path.join(self._deltas_root, d))
        ]
        if missing:
            raise ValueError(
                f"cannot restore entry {target}: delta dirs "
                f"{missing[:3]} were removed by vacuum"
            )
        new = self._commit_log(
            lambda cur: {
                **{
                    k: v
                    for k, v in state.items()
                    # "feed" stays behind too: the target's stored
                    # change rows describe ITS commit, not the
                    # restore's net revert (changes_between shows
                    # that); "op" is re-stamped below
                    if k not in ("entry", "seq", "feed", "op")
                },
                # seq stays monotonic over the head (it only feeds
                # provisional dir naming; LWW order is the dirs list)
                "seq": cur["seq"],
                "op": "restore",
            }
        )
        return new["entry"]

    def _entry_files(self) -> list[tuple[int, str]]:
        """(entry number, filename) for every well-formed e*.json in
        the chain dir — the single parse both :meth:`clean_orphans`
        (numbers above head) and :meth:`vacuum` (numbers below head)
        filter, so the naming scheme lives in one place."""
        out = []
        for name in sorted(os.listdir(self._entries_root)):
            if not (name.startswith("e") and name.endswith(".json")):
                continue
            try:
                out.append((int(name[1:-5]), name))
            except ValueError:
                continue
        return out

    def clean_orphans(self) -> list[str]:
        """Remove crashed commits' log entries (numbers above the
        committed head) so their slots become claimable again — the
        base store's FSCK contract (merge_store.py:2830): the caller
        asserts no writer is currently mid-commit. Delta data dirs
        stay (vacuum reclaims them). Returns removed paths."""
        head = self._log()["entry"]
        removed = []
        for n, name in self._entry_files():
            if n > head:
                os.remove(os.path.join(self._entries_root, name))
                removed.append(os.path.join("_log", name))
        return removed

    # --- write path ---

    def merge(self, batch: DataFrame, **kwargs) -> int:
        """Copy-on-write fast path: with NO live deltas, a plain base
        merge (bootstrap loads / bulk backfills, where rewrite cost IS
        the work) — ``kwargs`` pass through to the base merge. With
        live deltas it would commit stale state under newer delta
        actions — routed to :meth:`commit_delta` instead (where the
        base merge's options have no meaning: a kwarg there raises
        rather than being silently dropped)."""
        log = self._log()
        if log["dirs"]:
            if kwargs:
                raise ValueError(
                    "merge options are only available on the copy-on-"
                    f"write bootstrap path; the delta log is live "
                    f"(got {sorted(kwargs)})"
                )
            return self.commit_delta(batch)
        pinned_present = log["entry"] >= 0 and "base_version" in log
        pinned = log.get("base_version")
        if pinned_present and pinned != self.base.current_version():
            # the head entry pins a base BEHIND the live base head
            # (a restore fenced out an aborted compact's folds, or a
            # crashed writer advanced the base): merging onto the live
            # head would RESURRECT the fenced-out state, and
            # re-stamping would commit it — route through the delta
            # log, which overlays the PINNED base (round-13 review
            # finding)
            if kwargs:
                raise ValueError(
                    "merge options are only available on the copy-on-"
                    "write bootstrap path; the head entry pins base "
                    f"v{pinned} behind the live base head (got "
                    f"{sorted(kwargs)})"
                )
            return self.commit_delta(batch)
        v = self.base.merge(batch, **kwargs)
        if pinned_present:
            # the committed head PINS a base version (a prior compact
            # stamped it); a base write behind that pin would be
            # INVISIBLE to every read resolving through the entry
            # state (round-13 store-law fix: post-compact bootstrap
            # merges were silently dropped). Re-stamp with a fresh
            # entry whose base pin — and schema record, which this
            # merge may have evolved — reflect the commit.
            rec = self._schema_record()  # empty log → base-derived
            self._commit_log(
                lambda cur: {
                    # "feed" belongs to the head's own commit, not this
                    # re-stamp
                    **{
                        k: x
                        for k, x in cur.items()
                        if k not in ("entry", "feed", "feed_base", "op")
                    },
                    # base DATA changed behind the log: never CDC-silent
                    "op": "restamp",
                    "base_version": self.base.current_version(),
                    **(
                        {"columns": rec[0], "types": rec[1]}
                        if rec is not None
                        else {}
                    ),
                }
            )
        return v

    @scoped_store_op("batch")
    def commit_delta(
        self,
        batch: DataFrame,
        op_col: str | None = None,
        write_change_feed: bool = False,
    ) -> int:
        """Append one maintenance batch to the delta log: O(batch)
        cost, no bucket read or rewrite at ANY base size.

        ``write_change_feed=True`` additionally materializes this
        commit's Delta-CDF rows (insert / update_pre+post / delete,
        pre-images included) under ``changes/`` and records the ref in
        the log entry — the COW store's stored-feed trade mirrored
        (round-14 VERDICT #3): the WRITER pays ONE bucket-pruned probe
        of the pre-commit snapshot at commit time, and every CDC
        consumer then reads O(Δ) feed rows flat in base size, instead
        of each consumer paying the probe at diff time (which for
        hash-scattered batches touches every bucket — the measured
        ~2.2×-recompute bound in BASELINE's MOR CDC tiers).

        ``op_col`` names a column of 'u' (upsert) / 'd' (delete)
        actions; absent, every row is an upsert. A NULL op is
        rejected (the natural ``F.when(cond, 'd')``-without-otherwise
        mistake would otherwise act as a silent phantom delete that
        resurrects after compaction). The batch collapses to one row
        per PK first (version_cols LWW — the op of the surviving row
        is the key's action, matching what a merge of the same batch
        would have done). Delete rows only need the PK and version
        columns populated; other columns ride as NULL.

        Schema law: the commit validates NAMES AND TYPES against the
        store's current record — re-derived from the live BASE
        manifest whenever the log is empty (a bootstrap merge with
        ``allow_schema_evolution`` may have changed the table since
        the last entry was written), from the log entry otherwise —
        and every commit re-records the full column/type map, so the
        record can never go stale across evolution + compaction
        cycles. A type-drifted batch fails HERE with a ValueError,
        never as an unreadable mixed-type log discovered by a later
        read.
        """
        missing = [
            c
            for c in (*self.keys, *self.version_cols)
            if c not in batch.columns
        ]
        if missing:
            raise ValueError(f"delta batch lacks key/version cols {missing}")
        if op_col is not None:
            batch = batch.withColumnRenamed(op_col, _OP)
        else:
            batch = batch.withColumn(_OP, F.lit("u"))
        got = {
            f.name: f.dataType.simpleString()
            for f in batch.schema.fields
            if f.name != _OP
        }
        rec = self._schema_record()
        if rec is not None:
            cols, types = rec
            if set(got) != set(cols):
                raise ValueError(
                    "delta batch schema must match the store's "
                    f"({sorted(set(got) ^ set(cols))} differ)"
                )
            drift = {
                c: (got[c], types[c])
                for c in cols
                if c in types and got[c] != types[c]
            }
            if drift:
                raise ValueError(
                    "delta batch schema must match the store's: column "
                    f"type drift {drift} (a mixed-type log would fail "
                    "on every later read)"
                )
            # the batch's types equal the recorded ones wherever both
            # exist (just validated); the union fills any column the
            # record was missing (e.g. derived from a pre-evolution
            # bucket footer that predates the column)
            out_cols, out_types = list(cols), {**got, **types}
        else:
            out_cols = [c for c in batch.columns if c != _OP]
            out_types = got
        batch = collapse_for_upsert(batch, self.keys, self.version_cols)
        if op_col is not None:
            # lazy checkpoint: the validation action below materializes
            # the collapsed batch ONCE and the parquet write reuses it —
            # without it the collapse window would run twice per commit
            batch = batch.localCheckpoint(eager=False)
            bad = (
                batch.filter(
                    F.col(_OP).isNull() | ~F.col(_OP).isin("u", "d")
                )
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"delta op must be 'u' or 'd', got {bad[0][_OP]!r}"
                )
        # unique suffix: a crashed writer's orphan dir can never
        # collide with the retry (the merge store's artifact-dir law);
        # the numeric prefix is informational only — the committed
        # POSITION in the entry's dirs list is the LWW order, so a
        # CAS-losing append rebases without rewriting its parquet
        obs = self._log()
        provisional = obs["seq"] + 1
        d = tempfile.mkdtemp(
            dir=self._deltas_root, prefix=f"d{provisional:05d}-"
        )
        batch.write.mode("overwrite").parquet(d)
        feed_rel = None
        if write_change_feed:
            # pre-images resolve against the head the writer observed;
            # written BEFORE the CAS so a committed entry always
            # references an existing feed (the COW feed-then-manifest
            # law). The entry also records WHICH predecessor the feed
            # was computed against ("feed_base"): a CAS loser rebases
            # past a competitor, and its stored pre-images are then
            # stale — change_feed() detects the mismatch and serves
            # the log diff instead (round-14 review finding: a
            # post-commit recompute left a crash window that committed
            # a wrong-not-missing feed, and its in-place overwrite
            # raced concurrent readers).
            feed_rel = self._materialize_feed(
                batch.sparkSession,
                d,
                out_cols,
                out_types,
                obs["entry"] if obs["entry"] >= 0 else None,
            )
        new = self._commit_log(
            lambda cur: {
                # carry a prior compact's base stamp forward: the
                # entry state stays self-describing, so an entry-
                # pinned read can never resolve against a LATER
                # compact's base (and changes_between's O(Δ) append
                # fast path holds across a compact boundary)
                **(
                    {"base_version": cur["base_version"]}
                    if "base_version" in cur
                    else {}
                ),
                "seq": cur["seq"] + 1,
                "dirs": cur["dirs"] + [os.path.basename(d)],
                "columns": out_cols,
                "types": out_types,
                # self-describing entry kind (round 14): lets
                # changes_between walk a span and treat compacts as
                # CDC-silent without guessing from dirs/base deltas
                "op": "append",
                **(
                    {"feed": feed_rel, "feed_base": obs["entry"]}
                    if feed_rel is not None
                    else {}
                ),
            }
        )
        return new["seq"]

    def _materialize_feed(
        self,
        spark: SparkSession,
        delta_dir: str,
        cols: list[str],
        types: dict[str, str],
        version: int | None,
    ) -> str:
        """Write the Delta-CDF rows of the delta batch in ``delta_dir``
        against the snapshot at log entry ``version`` (``None``: the
        live pre-commit state) under ``changes/<delta dirname>``;
        returns the root-relative ref the log entry records. ONE
        bucket-pruned probe resolves the pre-images; the classification
        is the shared classifier (sources/cdc.py)."""
        delta = spark.read.schema(
            schema_ddl(cols, types, f"`{_OP}` string")
        ).parquet(delta_dir)
        keys = list(self.keys)
        has_state = self._log()["entry"] >= 0 or (
            self.base.current_version() is not None
        )
        pre = (
            self.probe(spark, delta.select(*keys), version=version)
            if has_state
            else None
        )
        post_u = delta.filter(F.col(_OP) == "u").select(*cols)
        if pre is None:
            # first-ever commit: no pre-state, every upsert an insert,
            # every tombstone a no-op
            feed = classify_changes(None, post_u, None, cols, keys, True)
        else:
            post_d = delta.filter(F.col(_OP) == "d").select(*keys)
            feed = self._cdc_emit(
                pre, post_u, post_d, cols, keys, True
            )
        os.makedirs(self._changes_root, exist_ok=True)
        name = os.path.basename(delta_dir)
        feed.write.mode("overwrite").parquet(
            os.path.join(self._changes_root, name)
        )
        return os.path.join("changes", name)

    def change_feed(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The stored change rows of one log entry — an O(Δ) read,
        flat in base size (the consumer-side payoff the writer's
        commit-time probe bought). Raises if that entry's commit was
        written without ``write_change_feed=True`` — compaction and
        restore entries never carry a feed (compaction is CDC-silent;
        a restore's net revert is a snapshot property) — use
        :meth:`changes_between` to diff snapshots instead."""
        head = self.current_version()
        if head is None:
            raise ValueError(
                f"empty merge-on-read store: {self.root}"
            )
        v = head if version is None else int(version)
        state = self._entry_state(v)
        rel = state.get("feed")
        if rel is None:
            raise ValueError(
                f"log entry {v} has no stored change feed (commit "
                "with write_change_feed=True; compaction/restore "
                "entries are CDC-silent) — diff snapshots with "
                "changes_between instead"
            )
        if state.get("feed_base", v - 1) != v - 1:
            # the commit lost its CAS and rebased past a competitor:
            # its stored pre-images were probed against the pre-race
            # head and are stale. The committed predecessor is
            # immutable, so the exact rows come from the log diff —
            # same shape, correctness over the rare raced commit's
            # O(Δ)-read economy.
            return self.changes_between(
                spark, v - 1, v, include_preimages=True
            )
        p = os.path.join(self.root, rel)
        if not os.path.isdir(p):
            raise ValueError(
                f"log entry {v}'s stored change feed was removed by "
                "vacuum(keep_last=...)"
            )
        cols, types = self._state_schema(state)
        return spark.read.schema(
            schema_ddl(cols, types, "`_change_type` string")
        ).parquet(p)

    # --- read path ---

    def _schema_record(self) -> tuple[list[str], dict[str, str]] | None:
        """(column order, name → simpleString type).

        With a LIVE log the newest entry's record is authoritative
        (``merge`` routes every write through the log while deltas
        exist, so the base cannot evolve underneath it). With an EMPTY
        log the base manifest is authoritative — a bootstrap merge
        with ``allow_schema_evolution=True`` may have changed the
        table since the last entry was written, and a stale record
        would reject valid batches or record an incomplete type map.
        A base-less emptied store falls back to the surviving entry
        record; an unborn store is None."""
        log = self._log()
        if log["dirs"] and "columns" in log:
            return list(log["columns"]), dict(log["types"])
        cur = self.base.current_version()
        if cur is None:
            if "columns" in log:
                return list(log["columns"]), dict(log["types"])
            return None
        cols = list(self.base._read_manifest(cur)["columns"])
        return cols, self.base.column_types(cur)

    def _columns(self) -> list[str] | None:
        """Table column order (see :meth:`_schema_record`)."""
        rec = self._schema_record()
        return None if rec is None else rec[0]

    def has_data(self) -> bool:
        """Store-polymorphic emptiness test (ParquetMergeStore
        contract): True once a base version OR any delta committed."""
        return self._schema_record() is not None

    def table_columns(self) -> list[str] | None:
        """Store-polymorphic column order (ParquetMergeStore
        contract)."""
        return self._columns()

    def _empty_frame(self, spark: SparkSession) -> DataFrame:
        """Typed empty snapshot from the recorded schema — what read()
        returns when every key has been deleted and the log compacted
        away (an initialized-but-empty store must stay readable)."""
        return spark.createDataFrame([], schema_ddl(*self._schema_record()))

    def _state_schema(self, state: dict) -> tuple[list[str], dict]:
        """(column order, types) of a log state's rows: the entry's
        record (backfilled for a legacy entry, see
        :meth:`_null_fill_types`)."""
        cols = list(state.get("columns") or self._columns())
        return cols, self._null_fill_types(state, cols)

    def _delta_frame(
        self,
        spark: SparkSession,
        state: dict | None = None,
        dirs: list[str] | None = None,
    ) -> DataFrame | None:
        """Live delta rows of log ``state`` (default: the committed
        head), each tagged with its commit's POSITION in the log
        (``__seq``): the committed dirs order IS the total write
        order, so sequence comes from the log — never from data files
        (a CAS-losing rebased append would otherwise carry a stale
        embedded number; the recorded read schema never reads one).
        ``dirs`` (default: the state's) restricts the frame to a
        suffix of the log, read with the state's schema. The union is
        a balanced tree (O(D log D) driver analysis, not the O(D²)
        left-deep chain), bounded by compaction cadence either way."""
        state = self._log() if state is None else state
        dirs = list(state["dirs"]) if dirs is None else dirs
        if not dirs:
            return None
        cols, types = self._state_schema(state)
        reader = spark.read.schema(
            schema_ddl(cols, types, f"`{_OP}` string")
        )
        frames = [
            reader.parquet(os.path.join(self._deltas_root, d)).withColumn(
                _SEQ, F.lit(i).cast("bigint")
            )
            for i, d in enumerate(dirs)
        ]
        while len(frames) > 1:
            frames = [
                frames[i].unionByName(frames[i + 1])
                if i + 1 < len(frames)
                else frames[i]
                for i in range(0, len(frames), 2)
            ]
        return frames[0]

    def _resolved(
        self, spark: SparkSession, state: dict | None = None
    ) -> DataFrame | None:
        """Latest delta action per PK of log ``state`` (default: the
        committed head): highest __seq wins (PKs are unique within a
        batch after the commit-side collapse, so the sequence alone is
        a total order per key). compact() MUST pass the same snapshot
        it later truncates — a second log read would race a
        concurrent append."""
        dl = self._delta_frame(spark, state)
        if dl is None:
            return None
        w = Window.partitionBy(*self.keys).orderBy(F.col(_SEQ).desc())
        return (
            dl.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", _SEQ)
        )

    def _overlay(
        self,
        spark: SparkSession,
        base_df: DataFrame | None,
        state: dict,
        where: dict | None = None,
    ) -> DataFrame:
        latest = self._resolved(spark, state)
        if latest is None:
            if base_df is None:
                if self._schema_record() is not None:
                    return self._empty_frame(spark)  # emptied, not unborn
                raise ValueError(f"empty merge-on-read store: {self.root}")
            return base_df
        cols = state.get("columns") or self._columns()
        ups = latest.filter(F.col(_OP) == "u").select(*cols)
        if where:
            # the base side arrives already where-filtered (exact, via
            # the base read's bucket pruning); filtering the upsert
            # side to the same ranges keeps the algebra exact:
            # σ(overlay(B, Δ)) = σ(B) ⟕̸ keys(Δ) ∪ σ(ups(Δ)) — the
            # anti-join commutes with a row-wise filter on its left
            ups = apply_where_ranges(ups, where)
        if base_df is None:
            return ups
        keep = base_df.join(
            latest.select(*self.keys), list(self.keys), "left_anti"
        )
        return keep.select(*cols).unionByName(ups)

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: dict | None = None,
    ) -> DataFrame:
        """The resolved snapshot: base rows not superseded by any
        delta action, plus the newest delta upsert per PK. Base cost
        is the usual bucket union; overlay cost is O(live delta rows)
        — bounded by compaction cadence, never by base size.

        ``version`` pins a committed LOG ENTRY (round 12, the
        partitioned table's child-pin protocol): the read overlays
        exactly that entry's delta dirs over the base version the
        entry recorded, so neither later appends nor a later compact's
        base advance leak in. ``where`` ({col: (lo, hi)} closed
        ranges, the base read's shape) prunes the base scan through
        its min/max/bloom machinery and filters the delta overlay to
        the same ranges — exact, like the base store's."""
        if version is None:
            state = self._log()
        else:
            state = self._entry_state(int(version))
        bv = (
            state["base_version"]
            if "base_version" in state
            else self.base.current_version()
        )
        base_df = (
            self.base.read(spark, version=bv, where=where)
            if bv is not None
            else None
        )
        return self._overlay(spark, base_df, state, where=where)

    def probe(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        version: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Bucket-pruned point read THROUGH the delta overlay: the
        base probe reads only the probe keys' buckets; the delta side
        joins the (small) live log against the key set. Deleted keys
        are absent; superseded base rows never surface.

        ``version`` pins a committed LOG ENTRY (the partitioned
        table's child-pin protocol — base resolves at the entry's
        recorded base version, the overlay at its dirs); ``buckets``
        forwards a caller-precomputed bucket slice to the base probe
        (the table-level probe's one-job routing)."""
        state = (
            self._log()
            if version is None
            else self._entry_state(int(version))
        )
        cur = (
            state["base_version"]
            if "base_version" in state
            else self.base.current_version()
        )
        latest = self._resolved(spark, state)
        keys = keys_df.select(*self.keys).dropDuplicates()
        base_hits = (
            self.base.probe(spark, keys, version=cur, buckets=buckets)
            if cur is not None
            else None
        )
        if latest is None:
            if base_hits is None:
                if self._schema_record() is not None:
                    return self._empty_frame(spark)  # emptied, not unborn
                raise ValueError(f"empty merge-on-read store: {self.root}")
            return base_hits
        cols = state.get("columns") or self._columns()
        latest = latest.join(keys, list(self.keys), "left_semi")
        ups = latest.filter(F.col(_OP) == "u").select(*cols)
        if base_hits is None:
            return ups
        keep = base_hits.join(
            latest.select(*self.keys), list(self.keys), "left_anti"
        )
        return keep.select(*cols).unionByName(ups)

    # --- inspection ---

    def files_read(
        self,
        version: int | None = None,
        where: dict | None = None,
    ) -> int:
        """How many data files a :meth:`read` with this scope opens —
        the base store's pruning-evidence contract through the
        overlay: the pinned base's own manifest-pruned count, plus
        EVERY live delta dir's files (the overlay is always fully
        read; ``where`` filters its rows, not its files — that is the
        read-amplification term compaction cadence bounds)."""
        state = (
            self._log()
            if version is None
            else self._entry_state(int(version))
        )
        bv = (
            state["base_version"]
            if "base_version" in state
            else self.base.current_version()
        )
        total = (
            self.base.files_read(version=bv, where=where)
            if bv is not None
            else 0
        )
        for d in state["dirs"]:
            dd = os.path.join(self._deltas_root, d)
            total += sum(
                1
                for f in os.listdir(dd)
                if f.endswith(".parquet")
            )
        return total

    # --- clone ---

    def shallow_clone(
        self, dst_root: str, version: int | None = None
    ) -> "MergeOnReadStore":
        """Zero-copy-ish clone of a committed LOG ENTRY (Delta SHALLOW
        CLONE through the MOR overlay): the clone's BASE is a shallow
        clone of this store's base at the entry's pinned
        ``base_version`` (absolute-path refs, no data moved — the base
        store's own clone law), and the entry's live delta dirs are
        COPIED into the clone (O(live delta rows), bounded by
        compaction cadence — copying keeps the clone's vacuum
        self-contained instead of adding a second cross-store ref
        kind). One e0 entry pins the cloned state; the clone is
        independently writable (delta appends land in its own log;
        a compact copy-on-writes inside its own base).

        ``version`` clones an earlier committed entry (the partitioned
        table clones each child at its globally PINNED entry). Same
        caveat as the base store: vacuum on the SOURCE can strand the
        clone's base refs; vacuum on the clone never crosses into the
        source. This is what lets a ``child_store='mor'`` table open
        TABLE-level audit branches (wap_branch) — round-14 VERDICT #2.
        """
        head = self.current_version()
        src_base_head = self.base.current_version()
        if head is None and src_base_head is None:
            raise ValueError(
                f"cannot clone an empty merge-on-read store: {self.root}"
            )
        if head is None:
            # legacy base-only store (no committed entry)
            state: dict = {"seq": -1, "dirs": []}
            if version is not None:
                raise ValueError(
                    f"log entry {version} does not exist in {self.root} "
                    "(base-only store)"
                )
        else:
            state = self._entry_state(
                head if version is None else int(version)
            )
        bv = (
            state["base_version"]
            if "base_version" in state
            else src_base_head
        )
        missing = [
            d
            for d in state["dirs"]
            if not os.path.isdir(os.path.join(self._deltas_root, d))
        ]
        if missing:
            raise ValueError(
                f"cannot clone: delta dirs {missing[:3]} no longer "
                "exist (vacuumed)"
            )
        clone = MergeOnReadStore(
            dst_root,
            keys=self.keys,
            version_cols=self.version_cols,
            num_buckets=self.num_buckets,
        )
        if (
            clone.current_version() is not None
            or clone.base.current_version() is not None
        ):
            raise ValueError(f"clone target not empty: {dst_root}")
        if bv is not None:
            self.base.shallow_clone(
                os.path.join(dst_root, "base"), version=int(bv)
            )
        for d in state["dirs"]:
            shutil.copytree(
                os.path.join(self._deltas_root, d),
                os.path.join(clone._deltas_root, d),
            )
        rec_cols = state.get("columns")
        rec_types = state.get("types")
        if rec_cols is None:
            rec = self._schema_record()
            if rec is not None:
                rec_cols, rec_types = rec
        clone._commit_log(
            lambda cur: {
                "seq": max(int(state.get("seq", -1)), 0),
                "op": "clone",
                "dirs": list(state["dirs"]),
                **({"base_version": 0} if bv is not None else {}),
                **(
                    {
                        "columns": list(rec_cols),
                        "types": dict(rec_types or {}),
                    }
                    if rec_cols is not None
                    else {}
                ),
            }
        )
        return clone

    # --- CDC ---

    def _null_fill_types(
        self, state: dict, cols: list[str]
    ) -> dict[str, str]:
        """Type map for null-filling columns missing from a diff's old
        side: the entry's recorded types, backfilled from the schema
        record for a legacy (pre-round-11) entry with no map of its
        own; a column neither covers raises the descriptive schema
        error instead of an opaque KeyError (round-14 ADVICE)."""
        types = dict(state.get("types") or {})
        missing = [c for c in cols if c not in types]
        if missing:
            rec = self._schema_record()
            if rec is not None:
                types = {**(rec[1] or {}), **types}
            missing = [c for c in cols if c not in types]
        if missing:
            raise ValueError(
                f"store at {self.root} records no type for column(s) "
                f"{missing}: the entry predates the types record and "
                "no bucket footer or newer log entry carries them"
            )
        return types

    def _span_append_dirs(
        self, e_from: int, e_to: int, s_from: dict | None = None
    ) -> list[str] | None:
        """The CDC fast-path span walk (round 14, VERDICT #4): the
        O(Δ) diff holds across COMPACT boundaries too, because
        compaction is CDC-silent by construction — the folded winners
        equal the base rows. Each entry is self-describing ("op" since
        round 14): appends contribute their new dirs as candidates in
        commit order, compacts contribute nothing; anything else
        (restore's net revert, a restamp's base-side bootstrap merge,
        a legacy entry without the op record whose shape isn't a plain
        same-base append) disqualifies the span.

        Returns the appended RELATIVE dir names in log order, or
        ``None`` when the span is not fast-diffable (the caller falls
        back to the full snapshot diff — correct for every entry pair).
        Shared by the child-level :meth:`changes_between` and the
        partitioned table's fused CDC, so the walk law cannot drift
        between the two levels."""
        if e_from > e_to:
            return None
        prev = (
            self._entry_state(e_from) if s_from is None else s_from
        )
        new_dirs: list[str] = []
        try:
            for n in range(e_from + 1, e_to + 1):
                s_n = self._entry_state(n)
                op = s_n.get("op")
                extends = (
                    list(s_n["dirs"])[: len(prev["dirs"])]
                    == list(prev["dirs"])
                )
                if op == "append" and extends:
                    new_dirs.extend(
                        list(s_n["dirs"])[len(prev["dirs"]) :]
                    )
                elif op == "compact" and set(s_n["dirs"]) <= set(
                    prev["dirs"]
                ):
                    pass  # CDC-silent truncation
                elif (
                    op is None
                    and extends
                    and s_n.get("base_version")
                    == prev.get("base_version")
                ):
                    # pre-round-14 entry: only a plain same-base
                    # append is provably silent-free
                    new_dirs.extend(
                        list(s_n["dirs"])[len(prev["dirs"]) :]
                    )
                else:
                    return None
                prev = s_n
        except ValueError:
            return None  # an intermediate entry was vacuumed
        return new_dirs

    def changes_between(
        self,
        spark: SparkSession,
        e_from: int,
        e_to: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Net row changes between two committed LOG ENTRIES,
        Delta-CDF-tagged like the base store's
        :func:`~parquet_demo_spark.sources.merge_store.changes_between`
        (``insert`` / ``update_postimage`` / ``update_preimage`` /
        ``delete``; unchanged rows dropped) — the surface that lets an
        MOR-backed table feed incremental MV refresh and replication
        (VERDICT r12 #2: the delta log already IS a change feed).

        When every entry in the span is an APPEND or a COMPACT (the
        common maintenance cadence — every partitioned-table
        merge/delete on an MOR child commits an append; compaction is
        CDC-silent by construction, the folded winners equal the base
        rows), the diff is O(Δ span): the candidate keys are the
        span's appended dirs' rows, their post-state is those dirs'
        per-PK winner (higher log position wins, the read path's own
        LWW law — a compact between appends never introduces a newer
        action), and their pre-state is ONE bucket-pruned
        :meth:`probe` of the ``e_from`` snapshot — never a scan of
        the base. Round 14 extended this across compact boundaries
        (VERDICT #4); a span containing a restore (net revert), a
        restamp (base-side bootstrap merge), or a vacuumed/legacy
        ambiguous entry falls back to the full snapshot diff —
        correct for every entry pair, at full snapshot cost.
        """
        head = self.current_version()
        if head is None:
            raise ValueError(
                f"merge-on-read store has no committed log entry: "
                f"{self.root}"
            )
        e_from = int(e_from)
        e_to = head if e_to is None else int(e_to)
        s_from = self._entry_state(e_from)
        s_to = self._entry_state(e_to)
        cols = list(s_to.get("columns") or self._columns())
        keys = list(self.keys)
        new_dirs = self._span_append_dirs(e_from, e_to, s_from)
        fast = new_dirs is not None
        if fast:
            if not new_dirs:
                return (
                    self.read(spark, version=e_to)
                    .select(*cols)
                    .limit(0)
                    .withColumn("_change_type", F.lit("insert"))
                )
            # per-PK winner among the APPENDED dirs only: any key they
            # touch resolves at e_to from these dirs (they carry the
            # highest log positions), so they are exactly the
            # candidate set and its post-state
            dl = self._delta_frame(spark, s_to, new_dirs)
            w = Window.partitionBy(*keys).orderBy(F.col(_SEQ).desc())
            latest = (
                dl.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", _SEQ)
                .localCheckpoint(eager=False)
            )
            pre = self.probe(spark, latest.select(*keys), version=e_from)
            types = self._null_fill_types(s_to, cols)
            pre = pre.select(
                *[
                    F.col(c)
                    if c in pre.columns
                    else F.lit(None).cast(types[c]).alias(c)
                    for c in cols
                ]
            )
            post_u = latest.filter(F.col(_OP) == "u").select(*cols)
            post_d = latest.filter(F.col(_OP) == "d").select(*keys)
            return self._cdc_emit(
                pre, post_u, post_d, cols, keys, include_preimages
            )
        # compact/restore boundary (or a backward span): diff the two
        # resolved snapshots — correct for every entry pair, at full
        # snapshot cost. Align the old side to e_to's columns with
        # typed nulls (a bootstrap evolution may have widened the
        # table between the entries).
        old = self.read(spark, version=e_from)
        new = self.read(spark, version=e_to)
        types = self._null_fill_types(s_to, cols)
        old = old.select(
            *[
                F.col(c)
                if c in old.columns
                else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )
        gone = old.join(
            new.select(
                *[F.col(k).alias(f"__new_{k}") for k in keys]
            ),
            [F.col(k).eqNullSafe(F.col(f"__new_{k}")) for k in keys],
            "left_anti",
        ).select(*keys)
        return self._cdc_emit(
            old, new.select(*cols), gone, cols, keys, include_preimages
        )

    @staticmethod
    def _cdc_emit(
        pre: DataFrame,
        post_u: DataFrame,
        post_d: DataFrame,
        cols: list[str],
        keys: list[str],
        include_preimages: bool,
    ) -> DataFrame:
        """CDC emission: ``pre`` holds the candidate keys' OLD rows,
        ``post_u`` their new upsert rows, ``post_d`` the
        deletion-candidate keys. This method owns only the MOR-side
        no-op-tombstone resolution (a delete of an absent key has no
        pre row → suppressed); the classification law itself is the
        shared :func:`~parquet_demo_spark.sources.cdc.classify_changes`
        (the round-13 review's extraction target — one copy of the
        Delta-CDF law for both stores)."""
        gone = pre.join(
            post_d.select(
                *[F.col(k).alias(f"__del_{k}") for k in keys]
            ),
            [
                F.col(k).eqNullSafe(F.col(f"__del_{k}"))
                for k in keys
            ],
            "left_semi",
        )
        return classify_changes(
            pre, post_u, gone, cols, keys, include_preimages
        )

    # --- maintenance ---

    @scoped_store_op(None, "spark")
    def compact(self, spark: SparkSession) -> None:
        """Fold the delta log into the base: ONE bucket-pruned COW
        merge for the winning upserts + a DV-based key delete for the
        winning deletes (PK-sized metadata, no rewrite), then truncate
        the log. This is the amortized rewrite — paid once per
        cadence, after which reads are pure base again.

        The truncation commits through the CAS chain and re-filters
        the HEAD's directory list, so a delta appended concurrently
        with the fold survives the truncation (it still overlays the
        freshly-compacted base correctly — per-PK it is newer than
        everything folded)."""
        # ONE log snapshot feeds both the fold and the truncation: a
        # second read would include a concurrently appended delta in
        # `folded` that `latest` never resolved — truncated and deleted
        # without ever reaching the base (round-11 review finding)
        snap = self._log()
        folded_dirs = list(snap["dirs"])
        latest = self._resolved(spark, snap)
        if latest is None:
            return
        pinned_present = "base_version" in snap
        pinned = snap.get("base_version")
        live_bv = self.base.current_version()
        if (
            isinstance(pinned, int)
            and pinned != live_bv
        ):
            # the head entry pins a base BEHIND the live base head (a
            # restore fenced out an aborted compact's folds): folding
            # onto the live head — and re-stamping to it below — would
            # RESURRECT the fenced-out state. Fence the base first
            # (metadata-only restore), so the fold and the truncation
            # stamp both build on the pinned snapshot (round-14 ADVICE
            # HIGH; mirrors the merge() bootstrap-path fix above).
            self.base.restore(pinned)
        ghost = None
        if pinned_present and pinned is None and live_bv is not None:
            # pinned to NO base (a restore to a pre-compact entry of a
            # never-explicitly-compacted store): reads resolve the
            # overlay alone, so every live-base key the overlay does
            # not re-assert is FENCED OUT — there is no base version
            # to restore to, so the fold must instead replace the
            # base's visible state outright: merge the winners below,
            # and delete every other base key (round-14 review
            # finding: the int-only fence skipped this case and the
            # fold resurrected the aborted keys).
            keys = list(self.keys)
            ghost = self.base.read(spark).select(*keys).join(
                latest.select(
                    *[F.col(k).alias(f"__l_{k}") for k in keys]
                ),
                [
                    F.col(k).eqNullSafe(F.col(f"__l_{k}"))
                    for k in keys
                ],
                "left_anti",
            )
        # one materialization feeds the emptiness probes AND the base
        # merge/delete below — without it the per-PK window recomputes
        # up to three times per compact (the delta log is O(batch)
        # rows, so the checkpoint is small)
        latest = latest.localCheckpoint(eager=False)
        folded = set(folded_dirs)
        cols = self._columns()
        ups = latest.filter(F.col(_OP) == "u").select(*cols)
        dels = latest.filter(F.col(_OP) == "d").select(*self.keys)
        if ghost is not None:
            # None-pin fence: the fenced-out base keys fold away with
            # the tombstones (one DV-based delete commit covers both)
            dels = dels.unionByName(ghost)
        if ups.limit(1).count():
            self.base.merge(ups)
        if self.base.current_version() is not None and dels.limit(1).count():
            self.base.delete_keys(dels, deletion_vectors=True)
        # truncate LAST: a crash above leaves the log intact and the
        # overlay idempotent over the partially-compacted base. The
        # schema record survives the truncation, so a compact that
        # deleted every key of a base-less store leaves a store that
        # reads as a typed EMPTY frame, not one that raises.
        self._commit_log(
            lambda cur: {
                # compaction is CDC-silent: the truncation entry must
                # not inherit the head commit's stored feed ref
                **{
                    k: v
                    for k, v in cur.items()
                    if k not in ("entry", "feed", "feed_base", "op")
                },
                "op": "compact",
                "dirs": [d for d in cur["dirs"] if d not in folded],
                # the truncation entry overlays the POST-fold base; the
                # spread above would otherwise carry the pre-compact
                # stamp and an entry-pinned read would miss the folds
                "base_version": self.base.current_version(),
            }
        )
        # folded dirs stay on disk for entry-pinned readers (a global
        # table version may still pin a pre-compaction entry, the same
        # reason the base store keeps rewritten bucket dirs) — vacuum
        # reclaims dirs no retained entry lists


    def maintain(
        self,
        spark: SparkSession,
        max_live_deltas: int = 8,
        **base_kwargs,
    ) -> dict:
        """The MOR maintenance policy (round-10 VERDICT #2): fold the
        delta log into the base once it holds ``max_live_deltas``
        entries — bounding the read overlay's O(live delta rows) term
        to a fixed cadence — then run the base store's size-driven
        bucket provisioning (``ParquetMergeStore.maintain``;
        ``base_kwargs`` pass through, e.g. ``target_bucket_bytes``).
        Returns both actions' records."""
        live = self.delta_count()
        if live >= int(max_live_deltas):
            self.compact(spark)
        return {
            "compacted": live >= int(max_live_deltas),
            "live_deltas_before": live,
            "base": self.base.maintain(spark, **base_kwargs),
        }

    def vacuum(self, keep_last: int = 1, **kwargs) -> list[str]:
        """Base-store retention (kwargs pass through, e.g.
        ``older_than``) plus delta-side cleanup: orphan delta
        directories a crashed writer left that no entry ever
        committed, stray ``_DELTAS.*`` pointer-swap temp files a crash
        left in the root, and log entries below the RETAINED window.

        ``keep_last`` retains the newest ``keep_last`` committed log
        entries (the head never expires; ``keep_last=0`` retains
        EVERYTHING, mirroring the base store's ``committed[-0:]``
        slicing — the wap_abandon law) — entry-pinned time travel
        (``read(version=)``, the partitioned table's child pins) stays
        readable for the retained window and raises the descriptive
        vacuumed error below it. Live delta dirs are the UNION over
        retained entries' dirs (a folded dir a retained
        pre-compaction entry still lists survives until that entry
        expires). The BASE keep window is widened to cover every
        retained entry's recorded ``base_version`` — compaction burns
        up to two base versions per single log entry, so a base
        window paced by the same ``keep_last`` could expire a
        retained entry's pinned base out from under it. Same contract
        as the base vacuum: the caller asserts no writer is
        mid-commit."""
        log = self._log()
        head = log["entry"]
        kl = int(keep_last)
        lo = head - kl + 1 if kl > 0 else -(1 << 62)
        live: set[str] = set(log["dirs"])
        live_feeds: set[str] = set()
        if log.get("feed"):
            live_feeds.add(os.path.basename(log["feed"]))
        min_base: int | None = (
            log["base_version"]
            if isinstance(log.get("base_version"), int)
            else None
        )
        for n, name in self._entry_files():
            if lo <= n < head:
                try:
                    with open(
                        os.path.join(self._entries_root, name)
                    ) as f:
                        state = json.load(f)
                except (OSError, ValueError):
                    continue
                live |= set(state.get("dirs", []))
                if state.get("feed"):
                    live_feeds.add(os.path.basename(state["feed"]))
                bv = state.get("base_version")
                if isinstance(bv, int) and (
                    min_base is None or bv < min_base
                ):
                    min_base = bv
        base_keep = kl
        bhead = self.base.current_version()
        if kl > 0 and min_base is not None and bhead is not None:
            base_keep = max(kl, bhead - min_base + 1)
        removed = self.base.vacuum(keep_last=base_keep, **kwargs)
        for d in sorted(os.listdir(self._deltas_root)):
            if d not in live:
                shutil.rmtree(os.path.join(self._deltas_root, d), True)
                removed.append(os.path.join("deltas", d))
        if os.path.isdir(self._changes_root):
            # stored feeds expire with the entries that reference them
            # (orphans from crashed feed-writing commits go too)
            for d in sorted(os.listdir(self._changes_root)):
                if d not in live_feeds:
                    shutil.rmtree(
                        os.path.join(self._changes_root, d), True
                    )
                    removed.append(os.path.join("changes", d))
        pointer = os.path.basename(self._pointer_path())
        for name in sorted(os.listdir(self.root)):
            if name.startswith("_DELTAS.") and name != pointer:
                os.unlink(os.path.join(self.root, name))
                removed.append(name)
        for n, name in self._entry_files():
            if n < lo:
                os.unlink(os.path.join(self._entries_root, name))
                removed.append(os.path.join("_log", name))
        return removed


def commit_upserts_and_tombstones(
    store, src: DataFrame, sentinel: str
) -> None:
    """ONE atomic commit of a mixed upsert + tombstone batch — the
    shared commit step of all three maintenance appliers (text q155/
    q182, dedup q166, ANN q160), polymorphic over the store:

    ``src`` carries fresh rows plus tombstone rows whose ``sentinel``
    column is NULL (a real value there is never null — tf >= 1, sig /
    cid non-null). COW: a ``merge_into`` whose matched-delete clause
    drops the NULL-sentinel keys (bucket-pruned rewrite). MOR: the
    same batch as one O(batch) ``commit_delta``, sentinel-NULL rows as
    'd' ops. Keeping the op derivation HERE means a future store
    variant (or a fix to the tombstone law) touches one function, not
    three hand-mirrored appliers."""
    if isinstance(store, MergeOnReadStore):
        store.commit_delta(
            src.withColumn(
                _OP,
                F.when(F.col(sentinel).isNull(), "d").otherwise("u"),
            ),
            op_col=_OP,
        )
    else:
        store.merge_into(
            src,
            matched=[
                ("delete", f"s.{sentinel} IS NULL"),
                ("update", None),
            ],
            not_matched_insert=f"s.{sentinel} IS NOT NULL",
        )
