"""TxnTable: a minimal log-structured ACID parquet table with a REAL
executed MERGE — file-granular copy-on-write, atomic commits,
idempotent application transactions, per-file key statistics for
probe pruning, log checkpointing, and time travel.

Why this exists: the records table wants ``MERGE INTO`` semantics
(the reference's per-row transactional upsert, adsmp/app.py:45-77,
recast set-at-a-time). This
module is a from-scratch implementation of the subset of the PUBLIC
Delta transaction-log protocol (Armbrust et al., "Delta Lake:
High-Performance ACID Table Storage over Cloud Object Stores", VLDB
2020) that the pipeline needs, and it is the only records format:
``cli`` and ``streaming.ingest`` read and write the records table
through it.

- **Log**: ``<path>/_txn/<version>.json`` entries list data files
  added/removed plus an optional application transaction id. Each
  ``add`` carries the file's key min/max and row count (Delta's
  per-file ``stats``) collected at write time; entries with removes
  also carry ``remove_stats`` (removed path -> row count, copied from
  the prior snapshot) so the change-feed stream can size its per-task
  slicing from max(add rows, remove rows) — a delete-heavy merge or a
  restore is add-light but its pre-image is not. The current snapshot
  is the ordered fold of the log: ``adds - removes``.
- **Atomic commit**: the entry is staged to a temp file and published
  with ``os.link`` (fails with EEXIST if the version was taken) — the
  optimistic-concurrency primitive; a crash before publish leaves
  only unreferenced temp/data files, never a torn table.
- **File-granular MERGE with file skipping**: candidate files are
  pruned DRIVER-SIDE against the batch's key set/range using the
  per-file min/max stats — a file whose key range cannot contain any
  affected key is never opened. Only candidates are scanned (tagged
  with ``input_file_name()``) to find the truly touched files; only
  those are rewritten. Every other file is kept byte-identical and
  merely re-referenced. This bounds an incremental merge by the
  TOUCHED files — O(batch), not O(table) — the property the round-5
  probe (which scanned every live file) lacked at 100 TB.
- **Checkpointing**: every ``checkpoint_every`` commits the folded
  state (live files + stats + seen txn ids) is written to
  ``_txn/checkpoint-<version>.json`` and pointed to by
  ``_txn/_last_checkpoint`` (the Delta ``_last_checkpoint`` shape),
  so opening the table reads O(1) checkpoint + O(tail) entries
  instead of O(total commits). Old entries are retained, so time
  travel to pre-checkpoint versions still folds the full log.
- **Idempotence**: a merge carrying ``app_txn_id`` that already
  appears in the log is a no-op (Delta's ``txn`` action) — replaying
  a batch after a sink failure changes nothing, the same checksum-
  suppression contract the dispatch layer has. Checkpoints retain
  the ids of the trailing ``txn_retention_commits`` commits only
  (Delta's txn expiry), so replay-detection state stops growing with
  total epochs.
- **Deletion vectors (merge-on-read DELETE)**: ``delete(keys=... |
  where=...)`` masks row positions instead of rewriting files — a
  commit that writes only a small (file, position, version) parquet
  and repoints per-file DV pointers. Readers apply the mask with a
  broadcast anti-join on (file, pos) built from Spark's
  ``_metadata.row_index``; merges/compactions materialize the
  vectors of the files they rewrite; ``compact()`` force-rewrites
  files >= 20% masked (the pressure valve bounding the mask
  broadcast); the change feed serves each masked position's delete
  exactly once (entries carry ``dvs`` + ``dv_prior`` + ``remove_dvs``
  pointers, so each commit's position delta is self-contained);
  restore rolls pointers back, resurrecting masked rows. This is the
  public Delta deletionVectors shape: at 100 TB a purge of 0.01% of
  keys writes O(deleted positions), not a rewrite of every touched
  file.
- **Lifecycle**: ``read_for_keys`` (stat-pruned point reads),
  optional ``cluster_writes`` (range-partition every written batch —
  what makes min/max pruning effective) and ``bloom_bits`` per-file
  key blooms (file skipping on hash-partitioned layouts),
  ``compact()`` (OPTIMIZE bin-packing: file count tracks data, not
  epochs), ``vacuum()`` (retention-horizon GC of unreachable files
  with a modification-time guard for in-flight writers), and
  ``history()`` (DESCRIBE HISTORY).

Scale notes: the log fold and file lists live on the driver — bounded
by FILE COUNT (what Delta itself keeps driver-side after parsing the
log), never by row count. All row work (membership probe, rewrite,
survivor union) is DataFrame joins; deleted keys are never collected
into an IN-list (the pruning collect is capped at
``prune_key_limit`` keys and falls back to min/max range overlap
above it).
"""

from __future__ import annotations

import bisect
import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_txn"
_LAST_CHECKPOINT = "_last_checkpoint"


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer staged —
    the optimistic-concurrency loss signal (Delta's
    ConcurrentModificationException). Safe to retry: the losing
    attempt's data files are unreferenced orphans, never corruption."""


class TableStateError(FileNotFoundError):
    """Deliberate complete-or-refuse refusal (reading / deleting from
    a table with no committed data). Subclasses FileNotFoundError so
    callers' existing ``except FileNotFoundError`` contracts hold —
    but the retry loops must NOT treat it as a stale-snapshot race:
    an empty table stays empty; rebasing would burn the retry budget
    reporting the wrong failure (ADVICE r10)."""


_LOST_FILE_MARKERS = ("PATH_NOT_FOUND", "FILE_NOT_EXIST",
                      "FAILED_READ_FILE", "FileNotFoundException",
                      # a staged/DV dir whose every parquet was
                      # collected mid-operation stops inferring a
                      # schema — the lost-input signal's shape when
                      # the DIRECTORY survives but its files don't
                      # (every in-engine read.parquet targets dirs we
                      # wrote non-empty, so this can only mean loss)
                      "UNABLE_TO_INFER_SCHEMA")


def _is_lost_file_error(exc: BaseException) -> bool:
    """A planned input file vanished mid-operation: the writer's
    snapshot went stale past the retention horizon and a concurrent
    vacuum/cleanup collected a file it was about to read (found by
    the 3-thread maintenance race at high contention). Delta's
    conflict protocol treats this like a commit conflict — re-plan
    against a fresh snapshot — so the retry loops do too.

    Matched on exception TYPE first (ADVICE r10: a substring test on
    ``str(exc)`` inside a broad ``except Exception`` arm would
    misclassify any error whose message merely embeds
    'FileNotFoundException'): only Python's own FileNotFoundError
    (a log/DV file unlinked between listdir and open — but never the
    deliberate TableStateError refusal), PySpark's captured
    exceptions, and raw Py4J JVM errors qualify; for the JVM forms
    the error class / cause chain is what carries the missing-path
    signal (AnalysisException [PATH_NOT_FOUND], task failures caused
    by java.io.FileNotFoundException, FAILED_READ_FILE.FILE_NOT_EXIST),
    and both embed it in their rendered message, which for these
    TYPES is trustworthy. The whole __cause__/__context__ chain is
    walked so a wrapped materialization failure still rebases."""
    try:
        from pyspark.errors import PySparkException
    except ImportError:                      # pragma: no cover
        PySparkException = ()
    try:
        from py4j.protocol import Py4JJavaError
    except ImportError:                      # pragma: no cover
        Py4JJavaError = ()
    seen: set[int] = set()
    stack: list[BaseException | None] = [exc]
    while stack:
        e = stack.pop()
        if e is None or id(e) in seen:
            continue
        seen.add(id(e))
        if isinstance(e, TableStateError):
            return False
        if isinstance(e, FileNotFoundError):
            return True
        if isinstance(e, (PySparkException, Py4JJavaError)):
            s = str(e)
            if isinstance(e, PySparkException):
                try:
                    # getCondition is the 4.x name; getErrorClass is
                    # the deprecated alias kept for older PySpark
                    get = getattr(e, "getCondition", None) \
                        or getattr(e, "getErrorClass", None)
                    if get is not None:
                        s = f"{get() or ''} {s}"
                except Exception:
                    pass
            if any(m in s for m in _LOST_FILE_MARKERS):
                return True
        stack.append(getattr(e, "__cause__", None))
        stack.append(getattr(e, "__context__", None))
    return False


@dataclass
class Snapshot:
    """Driver-side fold of the log at one version: the live file set
    (path -> stats dict or None) in add order, the application
    txn ids visible from the checkpoint's retention window + the
    log tail, and the table's CHECK constraints (name -> boolean SQL
    expression, Delta's ALTER TABLE ADD CONSTRAINT state), plus the
    per-file DELETION VECTOR pointers (data path -> {"dir", "card"}):
    merge-on-read deletes that mask rows of a live file without
    rewriting it (Delta's deletionVectors table feature)."""
    version: int = -1
    live: dict[str, dict | None] = field(default_factory=dict)
    txn_ids: set[str] = field(default_factory=set)
    constraints: dict[str, str] = field(default_factory=dict)
    dvs: dict[str, dict] = field(default_factory=dict)
    # table-level partition columns (Delta's metaData.partitionColumns
    # analogue): declared by the first partitioned write's entry,
    # carried by checkpoints, adopted by handles opened without
    # ``partition_by``
    partition_by: tuple = ()


def _as_add(a) -> tuple[str, dict | None]:
    """Normalize a log ``add`` — plain string (pre-stats entries) or
    ``{"path":..., "min_key":..., "max_key":..., "rows":...}``."""
    if isinstance(a, str):
        return a, None
    return a["path"], a


class TxnTable:
    """Handle to a log-structured parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str, key: str,
                 checkpoint_every: int = 10,
                 prune_key_limit: int = 65536,
                 cluster_writes: bool = False,
                 rows_per_file: int = 500_000,
                 bloom_bits: int = 0,
                 stats_cols: tuple[str, ...] = ("id", "updated"),
                 schema_evolution: bool = False,
                 dv_broadcast_budget: int = 1_000_000,
                 partition_by: tuple[str, ...] = ()):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.key = key
        # Hive-style partition columns (Delta's partitionedBy): every
        # data file holds EXACTLY ONE combination of partition values
        # (enforced at write time via the parquet writer's partitionBy
        # on duplicated columns, then flattened back into the table's
        # flat data/<commit>/<file> layout so the DV/position
        # machinery's path invariants hold). Each add records the
        # file's exact values under ``part`` AND mirrors them into the
        # per-column [min,max] stats as point ranges — so every
        # existing stat-pruning path (delete(where=), read_where,
        # read_for_range, max_stat) prunes partitions EXACTLY for
        # free, and ``overwrite(replace_where=...)`` can classify
        # whole files in or out of a partition predicate soundly.
        self.partition_by = tuple(partition_by)
        if self.key in self.partition_by:
            raise ValueError(
                f"partition_by must not contain the table key "
                f"{self.key!r}: partitioning on a unique key makes "
                f"one partition per row")
        self._guard_dv_columns(self.partition_by, "partition_by")
        self.checkpoint_every = checkpoint_every
        self.prune_key_limit = prune_key_limit
        # NON-KEY columns to record per-file min/max for (Delta's
        # dataSkippingNumIndexedCols analogue — VERDICT r6 task 3):
        # names absent from a written frame are skipped, so the
        # default covers the records table ("updated" makes the cron
        # tick's watermark scan file-skipped via read_for_range; "id"
        # makes the table-wide max id a driver-side stat fold instead
        # of a full-table scan on every streaming insert epoch) and is
        # a no-op for tables without those columns. The extra min/max
        # aggregates ride the stats job _write_data already runs.
        self.stats_cols = tuple(stats_cols)
        # schema_evolution=True is Delta's mergeSchema: a merge whose
        # batch carries NEW columns widens the table (survivors union
        # by name with nulls for the missing side) and every read
        # merges per-file footers so old files surface the new
        # columns as null. Off by default — the strict mode fails
        # loudly on drift, which is what a fixed-schema pipeline
        # wants.
        self.schema_evolution = schema_evolution
        # cluster_writes range-partitions every written batch by key
        # (~rows_per_file rows per data file) — Delta's cluster-by
        # analogue. Key-clustered files are what make the min/max
        # stats pruning EFFECTIVE: a hash-partitioned bootstrap gives
        # every file the full key range and no file can ever be
        # skipped. Costs one count() per write (O(batch)).
        self.cluster_writes = cluster_writes
        self.rows_per_file = rows_per_file
        # checkpoints retain app txn ids from this many trailing
        # commits (replay detection window — Delta's txn expiry)
        self.txn_retention_commits = 10_000
        # bloom_bits > 0 additionally records a per-file key BLOOM
        # FILTER in each add (Delta's bloom index analogue): min/max
        # ranges prune nothing on a hash-partitioned table (every
        # file spans the full key range), but bloom membership still
        # skips files. Power-of-two bits; ~512 bytes/file at 4096.
        self.bloom_bits = bloom_bits
        # PER-SCAN deletion-vector budget (VERDICT r10 #2): the
        # default DV read path broadcasts ALL scanned files' unpurged
        # positions in one anti-join — F.broadcast is a hint that
        # ignores autoBroadcastJoinThreshold, and compact()'s
        # per-FILE >= 20% trigger cannot bound the SUM (a 100-TB
        # table of files each 19% masked would broadcast O(0.19 x
        # total rows): a driver/executor OOM). Scans whose total
        # masked cardinality exceeds this budget therefore apply each
        # file's vector INSIDE that file's scan task instead (what
        # Delta does with per-file RoaringBitmaps), and compact()
        # additionally uses the budget as a global materialization
        # trigger. ~1M positions ≈ tens of MB broadcast: safe.
        self.dv_broadcast_budget = dv_broadcast_budget
        # observability: filled by merge() / read_for_keys() /
        # read_for_range() so tests/benchmarks can assert which files
        # the probe was allowed to open
        self.last_merge_probe: dict | None = None
        self.last_read_probe: dict | None = None
        self.last_changes_probe: dict | None = None
        self.last_delete_probe: dict | None = None

    # ------------------------------------------------------------ log
    def _log_dir(self) -> str:
        return os.path.join(self.path, _LOG_DIR)

    def _entry_files(self) -> list[tuple[int, str]]:
        """Sorted (version, absolute path) of every commit entry."""
        d = self._log_dir()
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if (name.endswith(".json") and not name.startswith(".")
                    and not name.startswith("checkpoint-")):
                try:
                    out.append((int(name[:-5]), os.path.join(d, name)))
                except ValueError:
                    continue
        out.sort()
        return out

    def _load_json(self, path: str) -> dict:
        """Single choke point for log/checkpoint reads — tests patch
        this to assert the checkpointed open() count."""
        with open(path) as f:
            return json.load(f)

    def _read_last_checkpoint(self) -> int | None:
        p = os.path.join(self._log_dir(), _LAST_CHECKPOINT)
        try:
            with open(p) as f:
                return json.load(f)["version"]
        except (OSError, ValueError, KeyError):
            return None

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self._log_dir(),
                            f"checkpoint-{version:08d}.json")

    @staticmethod
    def _fold_entry(snap: Snapshot, e: dict) -> None:
        snap.version = e["version"]
        for f in e.get("removes", []):
            snap.live.pop(f, None)
            snap.dvs.pop(f, None)
        for a in e.get("adds", []):
            p, stats = _as_add(a)
            snap.live[p] = stats
            snap.dvs.pop(p, None)      # a fresh add masks nothing
        # deletion-vector pointer deltas, AFTER adds/removes so a
        # restore that re-references a file AND re-attaches its old
        # DV in one entry folds to the attached state (null clears —
        # a restore to a pre-delete version detaches the pointer)
        for p, dv in (e.get("dvs") or {}).items():
            if dv is None:
                snap.dvs.pop(p, None)
            elif p in snap.live:
                snap.dvs[p] = {"dir": dv["dir"], "card": dv["card"]}
        if e.get("app_txn_id") is not None:
            snap.txn_ids.add(e["app_txn_id"])
        # CHECK-constraint deltas (Delta's metaData action analogue)
        for n, expr in (e.get("constraint_set") or {}).items():
            snap.constraints[n] = expr
        for n in e.get("constraint_drop") or []:
            snap.constraints.pop(n, None)
        # partition-column declaration (metaData.partitionColumns)
        if "partition_by" in e:
            snap.partition_by = tuple(e["partition_by"])

    def _snapshot(self, as_of: int | None = None) -> Snapshot:
        """One log read per operation — with a bounded internal retry
        against the listdir-vs-open race: ``_entry_files()`` lists the
        log, then the fold opens each entry, and a CONCURRENT
        ``cleanup_log`` may unlink one in between, surfacing a raw
        Python FileNotFoundError from a perfectly healthy table (the
        round-10 maintenance-race flake: the error class matched no
        rebase trigger, so a writer's 64-retry merge died on its
        FIRST snapshot). cleanup_log only ever deletes entries covered
        by a checkpoint, so a fresh list + fresh checkpoint pointer
        always converges — refusals (ValueError: head cleaned, target
        unreconstructable) pass straight through."""
        last: FileNotFoundError | None = None
        for _ in range(5):
            try:
                return self._snapshot_once(as_of)
            except TableStateError:
                raise
            except FileNotFoundError as exc:
                last = exc
        raise last

    def _snapshot_once(self, as_of: int | None = None) -> Snapshot:
        """One log fold: seeds from the NEWEST checkpoint at or below
        the requested version (the pointer's for current reads; an
        older retained checkpoint file for time travel) + only the
        entries after it; when no usable checkpoint exists it folds
        the log from scratch, refusing (rather than silently
        under-folding) if ``cleanup_log`` removed the log head."""
        entries = self._entry_files()
        snap = Snapshot()
        cp = self._read_last_checkpoint()
        if cp is not None and as_of is not None and as_of < cp:
            older = [v for v in self._checkpoint_versions()
                     if v <= as_of]
            cp = older[-1] if older else None
        if cp is not None:
            try:
                data = self._load_json(self._checkpoint_path(cp))
                snap.version = data["version"]
                snap.live = dict(_as_add(a) for a in data["live"])
                snap.txn_ids = set(data["txn_ids"])
                snap.constraints = dict(data.get("constraints") or {})
                snap.dvs = dict(data.get("dvs") or {})
                snap.partition_by = tuple(
                    data.get("partition_by") or ())
            except (OSError, ValueError, KeyError, TypeError):
                # missing OR corrupt checkpoint: the retained log can
                # rebuild the state — fall back rather than wedging
                # every operation on one bad file
                snap = Snapshot()
                cp = None
        if cp is None and entries and entries[0][0] > 0:
            raise ValueError(
                f"TxnTable log at {self._log_dir()} starts at version "
                f"{entries[0][0]} with no usable checkpoint at or "
                f"below the requested version — the head was removed "
                f"by cleanup_log (or the checkpoint is corrupt); "
                f"folding the partial log would be silently wrong")
        for v, p in entries:
            if cp is not None and v <= cp:
                continue
            if as_of is not None and v > as_of:
                break
            self._fold_entry(snap, self._load_json(p))
        if as_of is not None and snap.version < as_of:
            # Tail-missing guard (ADVICE r7, data-loss severity): when
            # ``as_of`` falls BETWEEN a retained older checkpoint and
            # the cleanup_log horizon (checkpoints {10, 20} kept,
            # entries <= 20 deleted, as_of = 16), the fold above seeds
            # from checkpoint 10 and finds no surviving entries in
            # (10, 16] — silently returning version-10 state as if it
            # were version 16. A time-travel read would return stale
            # data against the cleanup_log docstring's raise contract,
            # and vacuum (which derives its protected set from
            # _snapshot(as_of=horizon)) would under-protect and delete
            # files still live at the horizon: permanent loss. If the
            # table is KNOWN to have reached ``as_of`` (some entry or
            # checkpoint at/above it exists) but the fold stopped
            # short, the connecting entries were cleaned — refuse.
            # ``as_of`` beyond the table's latest version stays legal
            # (folds to the current state, same as before).
            known = entries[-1][0] if entries else -1
            cps = self._checkpoint_versions()
            if cps:
                known = max(known, cps[-1])
            if as_of <= known:
                raise ValueError(
                    f"TxnTable log at {self._log_dir()} cannot "
                    f"reconstruct version {as_of}: fold reached only "
                    f"version {snap.version} (entries in "
                    f"({snap.version}, {as_of}] were removed by "
                    f"cleanup_log); returning the partial fold would "
                    f"be silently stale")
        return snap

    def _maybe_checkpoint(self, version: int) -> None:
        if not self.checkpoint_every or version <= 0:
            return
        if version % self.checkpoint_every != 0:
            return
        # same listdir-vs-open race as _snapshot: the txn-pairs tail
        # scan below opens entry files a concurrent cleanup_log may
        # unlink; re-read with fresh state (the fresh _last_checkpoint
        # pointer then carries the cleaned versions' pairs)
        last: FileNotFoundError | None = None
        for _ in range(5):
            try:
                return self._maybe_checkpoint_once(version)
            except FileNotFoundError as exc:
                last = exc
        raise last

    def _maybe_checkpoint_once(self, version: int) -> None:
        snap = self._snapshot(as_of=version)
        # txn-id RETENTION (Delta's txn expiry analogue): carrying
        # every app txn id ever committed would grow each checkpoint
        # and every driver snapshot O(total epochs) — the exact
        # growth checkpointing exists to bound. Idempotent-replay
        # detection is therefore guaranteed within the last
        # ``txn_retention_commits`` commits (streaming redelivery is
        # always of a recent epoch — the source checkpoint has
        # committed past anything older).
        #
        # The id set CARRIES FORWARD from the previous checkpoint's
        # (version, id) pairs — filtered to the retention window —
        # plus only the log TAIL written since it (<= checkpoint_every
        # entries). Rebuilding from scratch would re-open up to
        # ``txn_retention_commits`` entry files per checkpoint: the
        # O(window) growth pattern checkpointing exists to bound.
        # Checkpoints without pairs (pre-round-7) fall back to the
        # full-window rebuild once; the next checkpoint has pairs.
        lo = version - self.txn_retention_commits
        prev = self._read_last_checkpoint()
        pairs: list[tuple[int, str]] = []
        carried_from = None
        if prev is not None and prev < version:
            try:
                prev_data = self._load_json(self._checkpoint_path(prev))
                raw = prev_data.get("txn_pairs")
                if raw is not None:
                    pairs = [(int(v), t) for v, t in raw
                             if lo < int(v) <= version]
                    carried_from = prev
                else:
                    # MIGRATION (ADVICE r7): a pre-pairs checkpoint
                    # only has the flat txn_ids set. If cleanup_log
                    # already deleted entries inside the retention
                    # window, the full-window rebuild below would fold
                    # only surviving entry files and silently drop
                    # replay-detection ids for the cleaned versions —
                    # a redelivered epoch in that window could then
                    # double-apply. Merge the legacy ids, tagged at
                    # the old checkpoint's version (conservative: they
                    # expire no earlier than they would have), and let
                    # the entry scan add anything committed since.
                    if lo < prev <= version:
                        pairs = [(prev, t)
                                 for t in prev_data.get("txn_ids", [])]
            except (OSError, ValueError, KeyError, TypeError):
                pass
        for v, p in self._entry_files():
            if carried_from is not None and v <= carried_from:
                continue
            if not (lo < v <= version):
                continue
            tid = self._load_json(p).get("app_txn_id")
            if tid is not None:
                pairs.append((v, tid))
        data = {"version": version,
                "live": [({"path": p, **s} if s else p)
                         for p, s in snap.live.items()],
                # txn_ids kept for readers of the old shape; txn_pairs
                # is what lets the NEXT checkpoint carry forward
                "txn_ids": sorted({t for _, t in pairs}),
                "txn_pairs": sorted(pairs),
                # constraint state must survive cleanup_log deleting
                # the set_constraint entries behind this checkpoint
                "constraints": snap.constraints,
                # deletion-vector pointers likewise outlive their
                # delete entries once the log head is cleaned
                "dvs": snap.dvs,
                # partition declaration outlives its declaring entry
                "partition_by": list(snap.partition_by)}
        d = self._log_dir()
        tmp = os.path.join(d, f".tmp-cp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(data, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._checkpoint_path(version))
        except FileExistsError:
            pass                       # another writer checkpointed
        finally:
            os.unlink(tmp)
        self._publish_checkpoint_pointer(version)

    def _checkpoint_versions(self) -> list[int]:
        """Versions of every on-disk checkpoint file, sorted."""
        d = self._log_dir()
        out = []
        if os.path.isdir(d):
            for name in os.listdir(d):
                if name.startswith("checkpoint-") and \
                        name.endswith(".json"):
                    try:
                        out.append(int(name[11:-5]))
                    except ValueError:
                        continue
        return sorted(out)

    def _publish_checkpoint_pointer(self, version: int) -> None:
        """Point ``_last_checkpoint`` at ``version``, SELF-CORRECTING
        the check-then-replace race (ADVICE r6): two concurrent
        checkpointers can both read an old pointer; if the newer
        version's replace lands first and the older one then
        overwrites it, the pointer regresses — state stays correct
        (the tail refolds from the older checkpoint) but every open
        silently degrades to a longer tail, forever. After each
        replace the writer re-lists the checkpoint FILES: if a newer
        checkpoint exists than what it just published, it republishes
        that one — so the losing older writer repairs the damage its
        own replace did. Bounded loop: each pass only repeats if a
        strictly newer checkpoint appeared."""
        d = self._log_dir()
        target = version
        for _ in range(4):
            cur = self._read_last_checkpoint()
            if cur is None or cur < target:
                ptr_tmp = os.path.join(
                    d, f".tmp-ptr-{uuid.uuid4().hex}.json")
                with open(ptr_tmp, "w") as f:
                    json.dump({"version": target}, f)
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(ptr_tmp, os.path.join(d, _LAST_CHECKPOINT))
            vs = self._checkpoint_versions()
            newest = vs[-1] if vs else target
            if newest <= target:
                return
            target = newest          # our replace may have buried it

    def version(self) -> int:
        """Latest committed version, -1 for a nonexistent table."""
        entries = self._entry_files()
        if entries:
            return entries[-1][0]
        cp = self._read_last_checkpoint()
        return cp if cp is not None else -1

    def live_files(self, as_of: int | None = None) -> list[str]:
        """Fold the log into the current (or ``as_of``-version)
        file set, in add order (paths relative to the table root)."""
        return list(self._snapshot(as_of).live)

    def live_adds(self, as_of: int | None = None) -> dict[str, dict | None]:
        """Live files WITH their per-file key stats (None for files
        committed before stats existed)."""
        return dict(self._snapshot(as_of).live)

    def seen_txn(self, app_txn_id: str) -> bool:
        return app_txn_id in self._snapshot().txn_ids

    def _commit(self, version: int, adds: list, removes: list[str],
                operation: str, app_txn_id: str | None,
                extra: dict | None = None,
                prior_live: dict[str, dict | None] | None = None,
                prior_dvs: dict[str, dict] | None = None) -> None:
        import time
        d = self._log_dir()
        os.makedirs(d, exist_ok=True)
        # wall-clock commit time (Delta's commitInfo timestamp):
        # informational — surfaced by history() and the change feed's
        # _commit_timestamp; ordering authority is always the VERSION
        # (two writers' clocks may disagree, the CAS cannot)
        entry = {"version": version, "operation": operation,
                 "ts_ms": int(time.time() * 1000),
                 "adds": adds, "removes": removes}
        if prior_live is not None and removes:
            # per-file row counts of the REMOVED files, copied from the
            # prior snapshot's add stats (known at commit time, free).
            # The CDF stream sizes its per-task key-hash slicing from
            # max(add rows, remove rows): a delete-heavy merge or a
            # restore writes few add rows but its tasks must hold every
            # removed file's pre-image, so sizing from adds alone
            # silently broke the per-task memory bound (VERDICT r9 #1).
            # Stat-less removed files are omitted (legacy adds-only
            # estimate remains the floor, never an overcount).
            rs = {p: (prior_live.get(p) or {}).get("rows")
                  for p in removes}
            # a removed file carrying a deletion vector has card rows
            # already masked: its pre-image (what the change feed must
            # stream) is rows - card, so sizing from the raw count
            # would only over-slice — but recording effective rows
            # keeps the estimate honest
            if prior_dvs:
                rs = {p: (max(0, r - prior_dvs[p]["card"])
                          if isinstance(r, int) and p in prior_dvs
                          else r)
                      for p, r in rs.items()}
            rs = {p: r for p, r in rs.items() if isinstance(r, int)}
            if rs:
                entry["remove_stats"] = rs
        if prior_dvs and removes:
            # the removed files' DV pointers at commit time: the feed
            # reads each removed file MINUS these positions as the
            # commit's pre-image (already-deleted rows must not
            # re-report as deletes)
            rdv = {p: prior_dvs[p]["dir"] for p in removes
                   if p in prior_dvs}
            if rdv:
                entry["remove_dvs"] = rdv
        if app_txn_id is not None:
            entry["app_txn_id"] = app_txn_id
        if extra:
            entry.update(extra)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(d, f"{version:08d}.json")
        try:
            # link is atomic and EXCLUSIVE: two writers racing for the
            # same version -> exactly one wins, the loser must re-read
            # the log and retry (optimistic concurrency)
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"concurrent commit: version {version} already exists "
                f"at {final}; re-read the snapshot and retry")
        finally:
            os.unlink(tmp)
        self._maybe_checkpoint(version)

    # ----------------------------------------------------------- data
    def _write_data(self, df: DataFrame, version: int) -> list[dict]:
        """Write ``df`` as new parquet files under a per-attempt dir;
        returns add records ``{"path", "min_key", "max_key", "rows"}``
        (table-relative paths). Files are invisible until the log
        entry referencing them commits — and the dir name carries an
        attempt id so a CRASHED earlier attempt's orphan directory
        (data written, commit never published) can never collide with
        the retry; orphans are unreferenced garbage, not corruption.

        The stats pass reads back ONLY this commit's files (O(batch),
        straight out of page cache) — the price of making every future
        merge's probe O(candidate files) instead of O(table)."""
        rel_dir = os.path.join(
            "data", f"commit-{version:08d}-{uuid.uuid4().hex[:8]}")
        out_dir = os.path.join(self.path, rel_dir)
        if self.cluster_writes and self.key in df.columns:
            n = df.count()
            nfiles = max(1, -(-n // self.rows_per_file))
            # on a partitioned table, range-cluster by (partition
            # cols, key): each task then holds a CONTIGUOUS run of
            # partition values, so the hive split below emits
            # O(tasks + values) files instead of O(tasks x values)
            cluster = [c for c in self.partition_by
                       if c in df.columns] + [self.key]
            df = df.repartitionByRange(nfiles, *cluster)
        if self.partition_by:
            missing = [c for c in self.partition_by
                       if c not in df.columns]
            if missing:
                raise ValueError(
                    f"write batch is missing partition column(s) "
                    f"{missing}: a partitioned table's every write "
                    f"must carry its partition_by columns")
            # partition on DUPLICATED columns so the values stay in
            # the data files too (the writer consumes the dir-encoded
            # columns; a bare partitionBy would strip them from the
            # parquet, breaking flat per-file reads), then flatten the
            # hive dirs back into this commit's flat dir — the log's
            # data/<commit>/<file> path shape is load-bearing for the
            # deletion-vector machinery (_rel_file_col).
            wdf = df
            for c in self.partition_by:
                wdf = wdf.withColumn(f"__part_{c}", F.col(c))
            (wdf.write.mode("error")
             .partitionBy(*[f"__part_{c}" for c in self.partition_by])
             .parquet(out_dir))
            _flatten_partition_dirs(out_dir)
        else:
            df.write.mode("error").parquet(out_dir)
        names = sorted(n for n in os.listdir(out_dir)
                       if n.endswith(".parquet"))
        stats = {}
        if names and self.key in df.columns:
            tagged = (self.spark.read.parquet(out_dir)
                      .withColumn("_f", F.input_file_name()))
            extras = [c for c in
                      dict.fromkeys(list(self.stats_cols)
                                    + list(self.partition_by))
                      if c != self.key and c in df.columns]
            aggs = [F.min(self.key).alias("mn"),
                    F.max(self.key).alias("mx"),
                    F.count(F.lit(1)).alias("n")]
            for i, c in enumerate(extras):
                aggs.append(F.min(c).alias(f"_mn{i}"))
                aggs.append(F.max(c).alias(f"_mx{i}"))
            rows = tagged.groupBy("_f").agg(*aggs).collect()
            blooms = {}
            if self.bloom_bits:
                blooms = {
                    os.path.basename(_decode_uri(r["_f"])): r["bloom"]
                    for r in self._file_blooms(
                        tagged.select("_f", self.key))}
            for r in rows:
                base = os.path.basename(_decode_uri(r["_f"]))
                mn, mx = r["mn"], r["mx"]
                if not _jsonable(mn) or not _jsonable(mx):
                    mn = mx = None   # exotic key type: no pruning
                s = {"min_key": mn, "max_key": mx, "rows": r["n"]}
                if extras:
                    s["cols"] = {
                        c: {"mn": _stat_encode(r[f"_mn{i}"]),
                            "mx": _stat_encode(r[f"_mx{i}"])}
                        for i, c in enumerate(extras)}
                if self.partition_by:
                    # exact per-file partition values, read back from
                    # the stats aggregate (typed, _stat_encode domain)
                    # rather than parsed out of hive dir names. Purity
                    # (one value per file) is the writer's invariant;
                    # an all-NULL value records as None (min/max skip
                    # nulls), the hive default-partition analogue.
                    part = {}
                    for c in self.partition_by:
                        cs = s["cols"][c]
                        if cs["mn"] != cs["mx"]:
                            raise RuntimeError(
                                f"partition purity violated: file "
                                f"{base} spans {c} range "
                                f"[{cs['mn']!r}, {cs['mx']!r}]")
                        part[c] = cs["mn"]
                    s["part"] = part
                if base in blooms:
                    s["bloom"] = blooms[base]
                    s["bloom_bits"] = self.bloom_bits
                stats[base] = s
            # a part-file absent from the stats aggregate is EMPTY
            # (Spark writes zero-row parts for some shuffle shapes):
            # referencing it would seed stat-less adds that every
            # future probe must treat as candidates and that poison
            # the max_stat fold — drop the file instead of the stats
            for n in list(names):
                if n not in stats:
                    os.unlink(os.path.join(out_dir, n))
                    names.remove(n)
        return [{"path": os.path.join(rel_dir, n),
                 **stats.get(n, {"min_key": None, "max_key": None,
                                 "rows": None})}
                for n in names]

    def _file_blooms(self, tagged: DataFrame) -> list:
        """Per-file base64 key bloom, built executor-side in one Arrow
        pass per file group over a slim (_f, key) projection; min/max
        stats come from the JVM aggregate in ``_write_data``."""
        import base64

        key, m = self.key, self.bloom_bits

        def per_file(pdf):
            import pandas as pd
            arr = bytearray(m // 8)
            for k in pdf[key]:
                h = _bloom_digest(k)
                for p in (h[0] % m, h[1] % m):
                    arr[p >> 3] |= 1 << (p & 7)
            return pd.DataFrame({
                "_f": [pdf["_f"].iloc[0]],
                "bloom": [base64.b64encode(bytes(arr)).decode()]})

        return tagged.groupBy("_f").applyInPandas(
            per_file, "_f string, bloom string").collect()

    def _read_files(self, files: list[str]) -> DataFrame:
        """Scan table-relative data files; with schema_evolution the
        per-file footers merge so pre-widening files surface later
        columns as null (Delta's mergeSchema read)."""
        r = self.spark.read
        if self.schema_evolution:
            r = r.option("mergeSchema", "true")
        return r.parquet(*[os.path.join(self.path, f) for f in files])

    # ------------------------------------------------ deletion vectors
    # Merge-on-read DELETE (the public Delta deletionVectors feature):
    # a delete commit writes only the deleted ROW POSITIONS — a tiny
    # parquet of (_dv_file, _dv_pos, _dv_commit) under data/dv-* —
    # and repoints the touched files' DV pointers, instead of
    # rewriting the files (copy-on-write merge rewrites O(touched
    # rows); a DV delete writes O(deleted positions): at 100 TB,
    # deleting 0.1% of a wide table stops costing a rewrite of every
    # touched file's full width). Readers mask the positions with a
    # BROADCAST hash anti-join on (file, pos) — the scan itself never
    # shuffles, and the broadcast is bounded by the un-purged DV
    # cardinality, which compact() (the materializer) keeps small by
    # rewriting heavily-masked files. DV parquets are CUMULATIVE per
    # file (each position tagged with the version that deleted it),
    # so one pointer per file serves reads and each commit entry
    # stays self-contained for the change feed (``dvs`` new pointer +
    # ``dv_prior`` old pointer = exact per-commit position delta).

    @staticmethod
    def _rel_file_col():
        """Table-relative path of each scanned row's source file —
        the last three path components of ``_metadata.file_path``
        (``data/<commit-or-dv dir>/<part file>``), which are plain
        ASCII by construction (uuid-hex dirs, Spark part names), so
        the extraction is URI-encoding-proof and matches the log's
        literal rel paths bit-for-bit."""
        return F.regexp_extract(F.col("_metadata.file_path"),
                                r"(data/[^/]+/[^/]+)$", 1)

    @staticmethod
    def _guard_dv_columns(cols, what: str) -> None:
        """The DV machinery tags scans with working columns
        ``_dv_file`` / ``_dv_pos`` / ``_dv_commit`` (joined on, then
        dropped). A table or batch that already carries one of those
        names would silently mis-join or lose user data on any DV
        read, delete, or MOR merge — refuse loudly instead
        (ADVICE r10)."""
        clash = sorted(c for c in cols if c.startswith("_dv_"))
        if clash:
            raise ValueError(
                f"{what}: column name(s) {clash} collide with the "
                f"deletion-vector working columns (_dv_file/_dv_pos/"
                f"_dv_commit are reserved); rename them first")

    def _reconcile_partitioning(self, snap: Snapshot,
                                full_overwrite: bool = False) -> dict:
        """Align this handle's ``partition_by`` with the TABLE's
        declared partition columns (Delta's metaData.partitionColumns
        analogue, folded from the log / checkpoints). A handle opened
        without ``partition_by`` ADOPTS the table's declaration — so
        a reopened table keeps writing partition-pure files — and a
        conflicting declaration refuses unless the operation is a
        full overwrite (the only op that replaces every file, making
        a re-partitioning sound). Returns the entry fields declaring
        a new/changed partitioning ({} when nothing changes); every
        write path calls this right after taking its snapshot."""
        mine, theirs = self.partition_by, snap.partition_by
        if not mine and theirs:
            self.partition_by = tuple(theirs)       # adopt
            return {}
        if tuple(mine) == tuple(theirs):
            return {}
        if theirs and not full_overwrite:
            raise ValueError(
                f"table at {self.path} is partitioned by "
                f"{list(theirs)} but this handle was opened with "
                f"partition_by={list(mine)}; changing the "
                f"partitioning requires a full overwrite()")
        return {"partition_by": list(mine)}

    def _with_pos(self, df: DataFrame) -> DataFrame:
        """Tag each row with its source file's rel path and its
        stable in-file row position (parquet row order is immutable;
        Spark's hidden ``_metadata.row_index`` exposes it)."""
        self._guard_dv_columns(df.columns, "deletion-vector scan")
        return (df.withColumn("_dv_file", self._rel_file_col())
                .withColumn("_dv_pos", F.col("_metadata.row_index")))

    def _dv_positions(self, pairs: dict[str, str],
                      with_commit: bool = False) -> DataFrame | None:
        """(_dv_file, _dv_pos) rows for the given file -> DV-dir
        pointers. Each distinct dir is read once, filtered to the
        files whose CURRENT pointer is that dir — a dir may also hold
        stale rows for files whose pointer has since moved (or been
        restored backwards), and those must not leak in."""
        if not pairs:
            return None
        cols = ["_dv_file", "_dv_pos"] + \
            (["_dv_commit"] if with_commit else [])
        parts = []
        for dd in sorted({d for d in pairs.values()}):
            files = sorted(p for p, d in pairs.items() if d == dd)
            parts.append(
                self.spark.read.parquet(os.path.join(self.path, dd))
                .where(F.col("_dv_file").isin(files)).select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_live(self, files: list[str],
                   dvs: dict[str, dict]) -> DataFrame:
        """Scan data files with their deletion vectors applied.
        Identical plan to a bare ``_read_files`` when none of the
        files carries a DV. Two masking strategies, chosen by the
        scan's TOTAL unpurged cardinality (VERDICT r10 #2 — the
        per-file compact trigger bounds each file's vector, never the
        sum across a scan):

        - within ``dv_broadcast_budget`` positions: one broadcast
          hash anti-join on (file, pos) — no shuffle of the data
          side, whole-stage codegen intact;
        - above it: each file's vector is applied INSIDE the scan
          task that reads the file (``_read_live_scan_masked``) —
          memory is O(one file's positions) per task instead of
          O(scan's positions) on every executor + the driver."""
        if not any(p in dvs for p in files):
            return self._read_files(files)
        return (self._live_rows_tagged(files, dvs)
                .drop("_dv_file", "_dv_pos"))

    def _live_rows_tagged(self, files: list[str],
                          dvs: dict[str, dict]) -> DataFrame:
        """Position-tagged LIVE rows of ``files`` (the _dv_file /
        _dv_pos working columns kept for callers that classify or
        probe by position: the merge probe, the MOR matched set, the
        delete classifier). Every DV-masking consumer routes through
        here so the per-scan budget applies uniformly — no call site
        is left with its own unbounded broadcast."""
        tagged = self._with_pos(self._read_files(files))
        sel = {p: d["dir"] for p, d in dvs.items() if p in set(files)}
        if not sel:
            return tagged
        total = sum((dvs[p] or {}).get("card", 0) for p in sel)
        if total > self.dv_broadcast_budget:
            return self._scan_masked_tagged(tagged, sel)
        dvu = self._dv_positions(sel)
        return tagged.join(F.broadcast(dvu), ["_dv_file", "_dv_pos"],
                           "left_anti")

    def _scan_masked_tagged(self, tagged: DataFrame,
                            sel: dict[str, str]) -> DataFrame:
        """Above-budget DV masking, Delta's per-file shape: an
        Arrow-batched ``mapInPandas`` over the position-tagged scan
        filters each batch against ITS OWN file's position set, read
        executor-side from the file's current DV parquet with a
        pushed-down ``_dv_file =`` filter. No broadcast, no exchange
        (mapInPandas is a narrow transformation): peak memory per
        task is one file's positions — bounded by rows_per_file no
        matter how many lightly-masked files the scan covers. The
        file -> DV-dir pointer map ships in the task closure
        (O(masked files), the same driver-side cardinality the log
        fold already holds)."""
        out_schema = tagged.schema
        out_cols = tagged.columns      # tags kept: callers drop them
        table_path = self.path
        pointers = dict(sel)

        def mask(batches):
            import pandas as pd
            import pyarrow.parquet as pq

            cache: dict[str, set | None] = {}

            def positions(f: str) -> set | None:
                if f not in cache:
                    dd = pointers.get(f)
                    if dd is None:
                        cache[f] = None
                    else:
                        # dir-level read, row-group-pruned by the
                        # equality filter; a dir may hold stale rows
                        # for OTHER files (pointer since moved) — the
                        # equality keeps only this file's cumulative
                        # mask, mirroring _dv_positions
                        t = pq.read_table(
                            os.path.join(table_path, dd),
                            columns=["_dv_pos"],
                            filters=[("_dv_file", "=", f)])
                        cache[f] = set(t.column("_dv_pos").to_pylist())
                    if len(cache) > 4:      # scans visit files in
                        cache.pop(next(iter(cache)))  # order: tiny LRU
                return cache[f]

            for pdf in batches:
                keep = pd.Series(True, index=pdf.index)
                for f in pdf["_dv_file"].unique():
                    pos = positions(f)
                    if pos:
                        keep &= ~((pdf["_dv_file"] == f)
                                  & pdf["_dv_pos"].isin(pos))
                yield pdf.loc[keep, out_cols]

        return tagged.mapInPandas(mask, out_schema)

    def _pos_join(self, tagged: DataFrame, positions: DataFrame,
                  how: str) -> DataFrame:
        """Join position-tagged data rows against a (file, pos) set
        with a budget-aware strategy: the positions are
        localCheckpointed (the join build re-reads them anyway),
        counted, and BROADCAST only under ``dv_broadcast_budget`` —
        above it the hint is dropped so the planner shuffles the join
        instead of OOMing every executor on a giant single-commit
        delta (a feed replaying a billion-row delete pays a shuffle,
        which is the honest cost of materializing that pre-image)."""
        positions = positions.localCheckpoint()
        if positions.count() <= self.dv_broadcast_budget:
            positions = F.broadcast(positions)
        return tagged.join(positions, ["_dv_file", "_dv_pos"], how)

    def _rows_at(self, positions: DataFrame | None,
                 pinned: bool = False) -> DataFrame | None:
        """Data rows at the given (_dv_file, _dv_pos) positions —
        the change feed's way of materializing a DV delta's pre/post
        images. O(touched files) scan, budget-aware semi-join.

        ``pinned=True`` marks positions already localCheckpointed by
        the caller (the feed's shared delta pass). One grouped collect
        serves BOTH the touched-file list and the broadcast-budget
        count — the previous shape (checkpoint + distinct collect +
        re-checkpoint + count inside ``_pos_join``) launched twice the
        driver actions per commit for the same decision."""
        if positions is None:
            return None
        if not pinned:
            # lazy: the grouped collect right below is the first
            # action, so pin + stats cost ONE job instead of two
            positions = positions.localCheckpoint(eager=False)
        per_file = positions.groupBy("_dv_file").agg(
            F.count(F.lit(1)).alias("_n")).collect()
        files = sorted(r["_dv_file"] for r in per_file)
        if not files:
            return None
        total = sum(r["_n"] for r in per_file)
        if total <= self.dv_broadcast_budget:
            positions = F.broadcast(positions)
        return (self._with_pos(self._read_files(files))
                .join(positions, ["_dv_file", "_dv_pos"], "left_semi")
                .drop("_dv_file", "_dv_pos"))

    def _empty_like(self, snap: Snapshot) -> DataFrame:
        """Zero-row frame with the TABLE schema. In strict mode every
        live file shares one schema, so any single footer suffices;
        with schema_evolution a file written before a widening merge
        lacks the newer columns (mergeSchema over ONE file adds
        nothing), so the empty frame must merge ALL live footers —
        otherwise code selecting a post-widening column fails only on
        the rare empty-result path (ADVICE r7). Footer-only cost:
        limit(0) never reads row data."""
        files = (list(snap.live) if self.schema_evolution
                 else [next(iter(snap.live))])
        return self._read_files(files).limit(0)

    def max_stat(self, col: str):
        """Table-wide max of ``col`` derived ENTIRELY from the
        per-file stats — a driver-side fold over the live file list,
        zero data files opened. Returns None when any live file lacks
        the stat (pre-stats files, or ``col`` outside ``stats_cols``
        when it was written): the caller must fall back to a real
        aggregate. This is what makes the streaming insert path's id
        numbering O(batch) (VERDICT r6 task 1): the reference gets
        the same property from Postgres's autoincrement PK
        (adsmp/models.py:49) — here the log's stats ARE the counter,
        consistent for every writer by construction (a side-channel
        counter could go stale if a non-streaming writer merged).

        Note: stats cover LIVE files, so after deleting the max-id
        row the result can exceed the true live max — fine (and
        desirable) for monotonic id assignment: ids are never reused.
        """
        snap = self._snapshot()
        if not snap.live:
            return None
        best = None
        for s in snap.live.values():
            if col == self.key:
                v = (s or {}).get("max_key")
            else:
                v = (s or {}).get("cols", {}).get(col, {}).get("mx")
            if v is None:
                return None
            best = v if best is None or v > best else best
        return best

    def read_for_range(self, col: str, lo=None, hi=None) -> DataFrame:
        """Rows with ``lo <= col <= hi`` (either bound optional),
        opening ONLY data files whose per-file [min, max] for ``col``
        overlaps the range — the stat-pruned form of the incremental
        watermark scan (P4, dispatch.incremental_filter): on a 100-TB
        records table the cron tick's ``updated >= watermark`` read
        touches just the files written since the watermark. Files
        without the stat are always candidates (never incorrectly
        skipped); the exact row filter is applied on top, so the
        result is identical to filtering a full read."""
        snap = self._snapshot()
        if not snap.live:
            raise TableStateError(
                f"TxnTable at {self.path} has no committed data")
        # tz-aware bounds normalize to naive UTC — the domain the
        # stored stats live in (session tz is UTC; collected
        # timestamps come back naive), so the encoded comparison and
        # the row filter agree on boundary instants
        lo, hi = _naive_utc(lo), _naive_utc(hi)
        lo_e, hi_e = _stat_encode(lo), _stat_encode(hi)
        cands = []
        for p, s in snap.live.items():
            if col == self.key:
                cs = {"mn": (s or {}).get("min_key"),
                      "mx": (s or {}).get("max_key")}
            else:
                cs = (s or {}).get("cols", {}).get(col, {})
            mn, mx = cs.get("mn"), cs.get("mx")
            try:
                if (mn is not None and mx is not None
                        and ((lo_e is not None and mx < lo_e)
                             or (hi_e is not None and mn > hi_e))):
                    continue
            except TypeError:
                pass               # incomparable: keep candidate
            cands.append(p)
        self.last_read_probe = {"live_files": len(snap.live),
                                "candidate_files": sorted(cands)}
        if not cands:
            return self._empty_like(snap)
        df = self._read_live(cands, snap.dvs)
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
        return df

    def read_where(self, where: str) -> DataFrame:
        """Rows matching a SQL predicate string, opening ONLY the
        data files whose per-file stats could hold a match — the
        read-side twin of the stat-pruned ``delete(where=)``. On a
        partitioned table the partition columns' stats are exact
        point values, so a partition predicate prunes to exactly the
        matching partitions' files (hive-style partition pruning);
        range predicates on ``stats_cols`` prune by [min, max] like
        ``read_for_range``. Unparseable predicate shapes scan every
        live file; the exact row filter applies on top either way, so
        the result always equals ``read().where(where)``."""
        snap = self._snapshot()
        if not snap.live:
            raise TableStateError(
                f"TxnTable at {self.path} has no committed data")
        cands = self._prune_where_candidates(snap, where)
        self.last_read_probe = {"live_files": len(snap.live),
                                "candidate_files": sorted(cands)}
        if not cands:
            return self._empty_like(snap)
        return self._read_live(cands, snap.dvs).where(where)

    def read_for_keys(self, keys: DataFrame) -> DataFrame:
        """Rows whose key appears in ``keys``, reading ONLY the data
        files whose stats range can contain one (the read-side twin of
        the merge probe's file skipping) — O(candidate files), not
        O(table). The returned frame is exact: candidate files are a
        superset of the containing files, and the semi-join filters
        the overshoot."""
        snap = self._snapshot()
        if not snap.live:
            raise TableStateError(
                f"TxnTable at {self.path} has no committed data")
        # pruning needs an agg + a collect and the result feeds a
        # semi-join: sever the keys lineage once instead of
        # re-executing the caller's pipeline three times
        keys = keys.select(self.key).distinct().localCheckpoint()
        cands = self._prune_candidates(snap.live, keys)
        self.last_read_probe = {"live_files": len(snap.live),
                                "candidate_files": sorted(cands)}
        if not cands:
            # no file can contain any key: empty frame, table schema
            return self._empty_like(snap)
        return (self._read_live(cands, snap.dvs)
                .join(keys, self.key, "left_semi"))

    def read(self, as_of: int | None = None) -> DataFrame:
        snap = self._snapshot(as_of)
        if not snap.live:
            raise TableStateError(
                f"TxnTable at {self.path} has no committed data")
        return self._read_live(list(snap.live), snap.dvs)

    def changes(self, v_lo: int, v_hi: int | None = None) -> DataFrame:
        """Change-data-feed (Delta CDF's ``table_changes`` shape,
        VERDICT r7 task 1): row-level deltas committed in versions
        ``(v_lo, v_hi]`` — applying them to ``read(as_of=v_lo)`` yields
        ``read(as_of=v_hi)``. Pass ``v_lo=-1`` to include the bootstrap
        commit. Returns the table columns plus ``_change_type``
        (insert / update_preimage / update_postimage / delete),
        ``_commit_version``, and ``_commit_timestamp`` (informational
        wall time recorded in the entry; null for pre-round-8
        commits — version is the ordering authority).

        Derived ENTIRELY from what each commit already recorded: a
        merge rewrites only its touched files, so commit ``v``'s delta
        is the key-level diff of its ``removes`` (pre-image) against
        its ``adds`` (post-image) — survivor rows copied verbatim into
        the rewrite appear identical on both sides and cancel. The
        feed therefore reads O(touched files per commit), never the
        table (``last_changes_probe`` records exactly which files were
        opened, vs the live count). ``compact`` commits reorganize
        bytes without changing rows and emit NOTHING by construction.

        This is the question the reference answers with a SECOND
        table — the ``change_log`` audit rows with pre-images written
        on every upsert (/root/reference/adsmp/models.py:127-141,
        written at adsmp/app.py:175,250,296) — served here from the
        transaction log the table already keeps. Downstream
        incremental consumers (outbox request derivation, cli
        ``outbox --incremental``) become O(changed) without checksum
        re-derivation.

        Like Delta CDF, the feed needs both the LOG entries and the
        DATA files of the range: if ``cleanup_log`` removed an entry
        or ``vacuum`` collected a pre-image file, this raises instead
        of returning a partial feed."""
        latest = self.version()
        if v_hi is None:
            v_hi = latest
        if not (-1 <= v_lo <= v_hi <= latest):
            raise ValueError(
                f"changes({v_lo}, {v_hi}): need -1 <= v_lo <= v_hi <= "
                f"latest committed version ({latest})")
        entry_paths = dict(self._entry_files())
        missing = [v for v in range(v_lo + 1, v_hi + 1)
                   if v not in entry_paths]
        if missing:
            raise ValueError(
                f"changes({v_lo}, {v_hi}): log entries {missing} were "
                f"removed by cleanup_log — the feed below the log "
                f"retention horizon is not reconstructable")
        per_commit: list[DataFrame] = []
        files_read: set[str] = set()
        for v in range(v_lo + 1, v_hi + 1):
            e = self._load_json(entry_paths[v])
            if e.get("operation") == "compact":
                continue               # bin-packing: zero row changes
            adds = [_as_add(a)[0] for a in e.get("adds", [])]
            removes = list(e.get("removes", []))
            dvs_e = e.get("dvs") or {}
            prior_e = e.get("dv_prior") or {}
            rdvs = e.get("remove_dvs") or {}
            if not adds and not removes and not dvs_e:
                continue               # metadata-only (constraints)
            add_set = set(adds)
            kept_dv = {p: d for p, d in dvs_e.items()
                       if p not in add_set}
            dv_dirs = ({d["dir"] for d in dvs_e.values() if d}
                       | {d["dir"] for d in prior_e.values() if d}
                       | set(rdvs.values()))
            for f in adds + removes + sorted(kept_dv):
                if not os.path.exists(os.path.join(self.path, f)):
                    raise ValueError(
                        f"changes({v_lo}, {v_hi}): data file {f} from "
                        f"commit {v} was collected by vacuum — "
                        f"pre-images below the retention horizon are "
                        f"not reconstructable")
            for dd in dv_dirs:
                if not os.path.isdir(os.path.join(self.path, dd)):
                    raise ValueError(
                        f"changes({v_lo}, {v_hi}): deletion-vector "
                        f"dir {dd} from commit {v} was collected by "
                        f"vacuum — the feed below the retention "
                        f"horizon is not reconstructable")
            files_read.update(adds)
            files_read.update(removes)
            files_read.update(kept_dv)
            # pre-image: removed files MINUS their already-masked
            # positions (remove_dvs — those rows' deletions were
            # served by the earlier delete commit's feed)
            pre = self._read_files(removes) if removes else None
            rsel = {p: rdvs[p] for p in removes if p in rdvs}
            if pre is not None and rsel:
                pos = self._dv_positions(rsel)
                pre = (self._pos_join(self._with_pos(pre), pos,
                                      "left_anti")
                       .drop("_dv_file", "_dv_pos"))
            # post-image: added files minus the DVs this entry
            # attaches to them (a restore re-adding a file together
            # with its historical vector)
            post = self._read_files(adds) if adds else None
            add_dv = {p: d["dir"] for p, d in dvs_e.items()
                      if d and p in add_set}
            if post is not None and add_dv:
                pos = self._dv_positions(add_dv)
                post = (self._pos_join(self._with_pos(post), pos,
                                       "left_anti")
                        .drop("_dv_file", "_dv_pos"))
            # kept-live files whose DV pointer moved: the position
            # DELTA is the row-level change — newly masked positions
            # are deletes (a delete commit), unmasked ones re-insert
            # (a restore to a pre-delete version)
            if kept_dv:
                new_pos = self._dv_positions(
                    {p: d["dir"] for p, d in kept_dv.items() if d})
                old_pos = self._dv_positions(
                    {p: prior_e[p]["dir"] for p in kept_dv
                     if prior_e.get(p)})

                # both delta directions from ONE materialized pass:
                # tag current positions +1 and prior positions -1;
                # each side is per-(file, pos) unique (cumulative DV
                # parquets are position SETS per file), so a position
                # in both sides sums to 0 (unchanged), only-current
                # to +1 (newly masked -> delete) and only-prior to -1
                # (unmasked by a restore -> re-insert). Replaces two
                # anti-joins each paying its own checkpoint + count
                # (half the feed's driver actions per DV commit).
                del_pos = res_pos = None
                pinned = False
                if new_pos is not None and old_pos is not None:
                    tagged = (new_pos.withColumn("_t", F.lit(1))
                              .unionByName(
                                  old_pos.withColumn("_t", F.lit(-1))))
                    s = (tagged.groupBy("_dv_file", "_dv_pos")
                         .agg(F.sum("_t").alias("_t"))
                         .where(F.col("_t") != 0)
                         .localCheckpoint(eager=False))
                    del_pos = s.where(F.col("_t") > 0).drop("_t")
                    res_pos = s.where(F.col("_t") < 0).drop("_t")
                    pinned = True
                elif new_pos is not None:
                    del_pos = new_pos
                elif old_pos is not None:
                    res_pos = old_pos
                del_rows = self._rows_at(del_pos, pinned=pinned)
                res_rows = self._rows_at(res_pos, pinned=pinned)
                if del_rows is not None:
                    pre = (del_rows if pre is None else
                           pre.unionByName(del_rows,
                                           allowMissingColumns=True))
                if res_rows is not None:
                    post = (res_rows if post is None else
                            post.unionByName(res_rows,
                                             allowMissingColumns=True))
            if pre is None and post is None:
                continue   # DV pointer churn with zero position delta
            per_commit.append(
                self._commit_diff(pre, post, v, e.get("ts_ms")))
        self.last_changes_probe = {
            "live_files": len(self._snapshot().live),
            "files_read": sorted(files_read),
            "commits": v_hi - v_lo}
        if not per_commit:
            snap = self._snapshot()
            if not snap.live:
                # mirror read(): a table with no live data files has
                # no schema to shape even an empty feed with
                raise TableStateError(
                    f"TxnTable at {self.path} has no committed data")
            return (self._empty_like(snap)
                    .withColumn("_change_type", F.lit(None).cast("string"))
                    .withColumn("_commit_version", F.lit(None).cast("long"))
                    .withColumn("_commit_timestamp",
                                F.lit(None).cast("timestamp")))
        out = per_commit[0]
        for df in per_commit[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def _commit_diff(self, pre: DataFrame | None, post: DataFrame | None,
                     version: int, ts_ms: int | None = None) -> DataFrame:
        """Key-level diff of one commit's rewritten files: rows only in
        ``post`` are inserts, only in ``pre`` are deletes, on both
        sides with ANY column differing are update pre/post pairs, and
        identical rows (survivors copied into the rewrite) cancel.
        Shuffles on the key over O(touched files) rows only."""
        key = self.key
        if pre is None and post is None:
            raise AssertionError("commit with neither adds nor removes")
        # align schemas (schema_evolution: pre-widening files lack the
        # new columns — surface them as typed nulls on the narrow side)
        cols: dict[str, object] = {}
        for df in (post, pre):
            if df is not None:
                for f_ in df.schema.fields:
                    cols.setdefault(f_.name, f_.dataType)

        def _aligned(df):
            if df is None:
                return None
            sel = [(F.col(c) if c in df.columns
                    else F.lit(None).cast(t)).alias(c)
                   for c, t in cols.items()]
            return df.select(*sel)

        pre, post = _aligned(pre), _aligned(post)
        data_cols = [c for c in cols if c != key]
        # Delta CDF's _commit_timestamp (informational wall time from
        # the entry; null for pre-round-8 commits)
        ts_col = (F.timestamp_millis(F.lit(ts_ms)) if ts_ms is not None
                  else F.lit(None).cast("timestamp"))
        tag = (lambda df, t: df.select(
            *[F.col(c) for c in cols],
            F.lit(t).alias("_change_type"),
            F.lit(version).cast("long").alias("_commit_version"),
            ts_col.alias("_commit_timestamp")))
        if pre is None:
            return tag(post, "insert")
        if post is None:
            return tag(pre, "delete")

        # struct comparison treats null fields as equal (verified:
        # Spark's interpreted ordering for complex types); map columns
        # are not orderable, so compare the JSON of their entry list
        # SORTED BY KEY — raw to_json(map) is insertion-order-
        # sensitive, so equal maps written in different key orders
        # would register as spurious update pairs (ADVICE r8). The
        # streaming source canonicalizes the same way (cdf_source
        # sorts map entries before its dict diff) — parity-tested.
        def _cmp(side):
            items = []
            for c in data_cols:
                col = F.col(f"{side}.{c}")
                if str(cols[c]).startswith("Map"):
                    col = F.to_json(F.array_sort(F.map_entries(col)))
                items.append(col.alias(c))
            return F.struct(*items) if items else F.lit(0)

        p, q = pre.alias("p"), post.alias("q")
        pk, qk = F.col(f"p.{key}"), F.col(f"q.{key}")
        j = p.join(q, pk == qk, "full_outer")

        def _side(cond, side, ctype):
            return j.where(cond).select(
                F.col(f"{side}.{key}").alias(key),
                *[F.col(f"{side}.{c}").alias(c) for c in data_cols],
                F.lit(ctype).alias("_change_type"),
                F.lit(version).cast("long").alias("_commit_version"),
                ts_col.alias("_commit_timestamp"))

        inserts = _side(pk.isNull() & qk.isNotNull(), "q", "insert")
        deletes = _side(qk.isNull() & pk.isNotNull(), "p", "delete")
        both = pk.isNotNull() & qk.isNotNull() \
            & ~_cmp("p").eqNullSafe(_cmp("q"))
        upd_pre = _side(both, "p", "update_preimage")
        upd_post = _side(both, "q", "update_postimage")
        return (inserts.unionByName(deletes)
                .unionByName(upd_pre).unionByName(upd_post))

    # ------------------------------------------------------ operations
    def overwrite(self, df: DataFrame,
                  app_txn_id: str | None = None,
                  replace_where: str | None = None,
                  retries: int = 0) -> int:
        """Full-snapshot write (version 0 bootstrap or replace) — or,
        with ``replace_where``, Delta's DYNAMIC PARTITION OVERWRITE
        (``replaceWhere``): atomically swap out exactly the files of
        the partitions matching the predicate for the new batch,
        leaving every other partition's files untouched. The
        predicate must be statically checkable (the same tiny
        interval grammar ``delete(where=)`` prunes with) and may
        reference ONLY ``partition_by`` columns — file-granular
        removal is sound only when membership is a per-file constant
        — and every incoming row must satisfy it (validated on the
        staged parquet, one O(batch) pass; a violating batch is
        refused with the staged files cleaned up, like a CHECK
        refusal). At 100 TB this is the re-ingest primitive: replace
        one day / one source shard in O(that partition), never
        O(table)."""
        for attempt in range(retries + 1):
            try:
                return self._overwrite_once(df, app_txn_id,
                                            replace_where)
            except CommitConflict:
                if attempt == retries:
                    raise
            except Exception as exc:
                if attempt == retries or not _is_lost_file_error(exc):
                    raise

    def _overwrite_once(self, df: DataFrame,
                        app_txn_id: str | None,
                        replace_where: str | None) -> int:
        snap = self._snapshot()
        if app_txn_id is not None and app_txn_id in snap.txn_ids:
            return snap.version
        pmeta = self._reconcile_partitioning(
            snap, full_overwrite=replace_where is None)
        removes = list(snap.live)
        constraints = dict(snap.constraints)
        extra = None
        if replace_where is not None:
            if not self.partition_by:
                raise ValueError(
                    "overwrite(replace_where=...) requires a "
                    "partitioned table (partition_by)")
            node = _parse_predicate(replace_where)
            if node is None:
                raise ValueError(
                    f"replace_where predicate {replace_where!r} is "
                    f"not statically checkable (comparisons / IN / "
                    f"BETWEEN over AND/OR on partition columns)")
            stray = _pred_columns(node) - set(self.partition_by)
            if stray:
                raise ValueError(
                    f"replace_where may reference only partition "
                    f"columns {list(self.partition_by)}; got "
                    f"{sorted(stray)}")
            removes = []
            for p, s in snap.live.items():
                part = (s or {}).get("part")
                if part is None or any(c not in part
                                       for c in _pred_columns(node)):
                    raise ValueError(
                        f"replace_where: live file {p} has no "
                        f"partition values for the predicate's "
                        f"columns (written before partition_by?); "
                        f"file-granular replacement would be unsound")
                if _pred_exact_match(node, part):
                    removes.append(p)
            # every incoming row must fall INSIDE the replaced
            # predicate (Delta refuses too) — enforced on the staged
            # parquet below, same one-materialization discipline as
            # CHECK constraints, with staged-file cleanup on refusal.
            # Constraint names are user data: never shadow one that
            # happens to be called "replace_where"
            rw_key = "replace_where"
            while rw_key in constraints:
                rw_key += "_"
            constraints[rw_key] = replace_where
            extra = {"replace_where": replace_where}
        v = snap.version + 1
        adds = self._write_data(df, v)
        self._validate_staged(adds, constraints,
                              "the overwrite batch")
        self._commit(v, adds, removes, "overwrite", app_txn_id,
                     extra={**(extra or {}), **pmeta} or None,
                     prior_live=snap.live, prior_dvs=snap.dvs)
        return v

    def _prune_candidates(self, live: dict[str, dict | None],
                          affected: DataFrame) -> list[str]:
        """Driver-side file skipping: keep only live files whose
        [min_key, max_key] can contain an affected key. Small batches
        (<= prune_key_limit keys) test each file's range against the
        sorted key list (exact containment, strongest pruning); larger
        ones fall back to range overlap. Files without stats are
        always candidates (never incorrectly skipped)."""
        agg = affected.agg(
            F.min(self.key).alias("mn"), F.max(self.key).alias("mx"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        if agg["n"] == 0:
            return []
        bmin, bmax = agg["mn"], agg["mx"]
        keys = None
        digests = None
        if agg["n"] <= self.prune_key_limit:
            keys = sorted(r[0] for r in affected.collect()
                          if r[0] is not None)
            if keys and not _jsonable(keys[0]):
                keys = None
        out = []
        for p, s in live.items():
            if not s or s.get("min_key") is None or s.get("max_key") is None:
                out.append(p)
                continue
            mn, mx = s["min_key"], s["max_key"]
            try:
                if mx < bmin or mn > bmax:
                    continue
                if keys is not None:
                    # any affected key inside [mn, mx]?
                    i = bisect.bisect_left(keys, mn)
                    if i >= len(keys) or keys[i] > mx:
                        continue
                    if s.get("bloom"):
                        # bloom skip: effective even when the file's
                        # range spans everything (hash-partitioned
                        # layouts). md5 digests computed once per
                        # batch key, bit-tested per file.
                        import base64
                        if digests is None:
                            digests = [_bloom_digest(k) for k in keys]
                        bl = base64.b64decode(s["bloom"])
                        bb = s.get("bloom_bits", len(bl) * 8)
                        j = bisect.bisect_right(keys, mx)
                        if not any(_bloom_contains(bl, digests[x], bb)
                                   for x in range(i, j)):
                            continue
            except TypeError:
                pass                   # incomparable: keep candidate
            out.append(p)
        return out

    def _prune_where_candidates(self, snap: Snapshot,
                                where) -> list[str]:
        """File skipping for predicate deletes (VERDICT r10 task 4):
        when ``where`` is a SQL string whose shape the tiny interval
        parser understands (comparisons / IN / BETWEEN over AND/OR),
        a file is a candidate only if its recorded per-column
        [min, max] ranges COULD hold a matching row — key stats plus
        every ``stats_cols`` entry participate, both living in the
        ``_stat_encode`` domain. Column objects and unparseable
        predicates keep every live file (the pre-round-11 behavior);
        the exact row filter still applies either way, so pruning
        only ever trades completeness, never correctness."""
        node = _parse_predicate(where) if isinstance(where, str) \
            else None
        if node is None:
            return list(snap.live)
        out = []
        for p, s in snap.live.items():
            def stat(col, _s=s):
                if col == self.key:
                    return ((_s or {}).get("min_key"),
                            (_s or {}).get("max_key"))
                cs = (_s or {}).get("cols", {}).get(col, {})
                return cs.get("mn"), cs.get("mx")
            if _pred_may_match(node, stat):
                out.append(p)
        return out

    def merge(self, changed: DataFrame,
              deleted_keys: DataFrame | None = None,
              app_txn_id: str | None = None, retries: int = 0,
              merge_on_read: bool = False) -> int:
        """MERGE with optimistic-concurrency retry: on a
        ``CommitConflict`` (another writer took the staged version)
        the WHOLE merge re-runs against the fresh snapshot — candidate
        pruning, touched-file probe, and the app_txn_id idempotence
        check all re-evaluate, exactly Delta's
        commit-conflict-then-rebase loop. ``retries=0`` (default)
        preserves the raise-on-conflict contract for single-writer
        callers; a conflicted attempt's data files are unreferenced
        orphans (vacuum collects them), never corruption.

        ``merge_on_read=True`` executes the merge in the deletion-
        vector form (Delta's DV-backed UPDATE/MERGE): matched rows
        are MASKED in place and the batch's post-merge rows land in
        one new add file — zero existing files rewritten, so a
        scattered update of K rows writes O(K + positions) instead of
        rewriting every touched file's full width. The change feed is
        identical either way (masked pre-images vs the add file's
        post-images key-diff into the same insert/update/delete
        rows); readers pay the position mask until ``compact()``
        materializes. Copy-on-write (the default) remains right when
        batches repeatedly hit the same files (no mask accumulation);
        merge-on-read wins for wide tables with scattered updates."""
        for attempt in range(retries + 1):
            try:
                if merge_on_read:
                    return self._merge_mor_once(changed, deleted_keys,
                                                app_txn_id)
                return self._merge_once(changed, deleted_keys,
                                        app_txn_id)
            except CommitConflict:
                if attempt == retries:
                    raise
            except Exception as exc:
                # stale-snapshot file loss (a vacuum collected a
                # planned input past the retention horizon): re-plan
                # against a fresh snapshot, same budget as conflicts
                if attempt == retries or not _is_lost_file_error(exc):
                    raise

    def _merge_mor_once(self, changed: DataFrame,
                        deleted_keys: DataFrame | None,
                        app_txn_id: str | None) -> int:
        """Merge-on-read MERGE: mask every live row whose key is in
        the batch (changed or deleted), write the upserts as one new
        add file, commit both in one atomic entry. The masking reuses
        the DV delete machinery; candidate pruning and the live-row
        probe are the same stat/bloom-driven file skipping as
        copy-on-write."""
        key = self.key
        self._guard_dv_columns(changed.columns,
                               "merge(merge_on_read=True)")
        snap = self._snapshot()
        if app_txn_id is not None and app_txn_id in snap.txn_ids:
            return snap.version
        pmeta = self._reconcile_partitioning(snap)
        if deleted_keys is None:
            deleted_keys = changed.select(key).limit(0)
        deleted_keys = deleted_keys.select(key).distinct()
        affected = (changed.select(key)
                    .unionByName(deleted_keys).distinct()
                    .localCheckpoint())
        candidates = self._prune_candidates(snap.live, affected)
        v = snap.version + 1
        matched = None
        if candidates:
            live_rows = self._live_rows_tagged(candidates, snap.dvs)
            matched = (live_rows.join(affected, key, "left_semi")
                       .select("_dv_file", "_dv_pos")
                       .localCheckpoint())
        # stage + validate the adds BEFORE writing the mask parquet:
        # a constraint refusal then leaves only the staged files
        # (which _validate_staged cleans up), never an orphan DV dir
        upserts = changed.join(deleted_keys, key, "left_anti")
        if snap.live:
            # the copy-on-write path enforces the schema contract
            # through its survivors union (strict mode fails loudly on
            # drift, schema_evolution widens by name); merge-on-read
            # writes the batch AS-IS, so mirror the contract here by
            # unioning with a zero-row table-schema frame — a drifted
            # batch raises before anything lands, and a widening batch
            # (evolution on) writes the table ∪ batch columns exactly
            # like a CoW rewrite would (ADVICE r10, medium).
            upserts = self._empty_like(snap).unionByName(
                upserts, allowMissingColumns=self.schema_evolution)
        adds = self._write_data(upserts, v)
        self._validate_staged(adds, snap.constraints,
                              "the merge batch")
        dead: list = []
        extra: dict = {}
        if matched is not None:
            dead, extra = self._mask_commit_parts(matched, snap, v)
        extra.update(pmeta)
        self.last_merge_probe = {
            "live_files": len(snap.live),
            "candidate_files": sorted(candidates),
            "touched_files": sorted(
                dead + list(extra.get("dvs") or {})),
            "mode": "merge_on_read",
        }
        if not adds and not dead and not extra:
            return snap.version        # empty batch: no commit
        self._commit(v, adds, dead, "merge", app_txn_id,
                     extra=extra or None,
                     prior_live=snap.live, prior_dvs=snap.dvs)
        return v

    def _merge_once(self, changed: DataFrame,
                    deleted_keys: DataFrame | None = None,
                    app_txn_id: str | None = None) -> int:
        """MERGE: upsert ``changed`` (full post-merge rows keyed by
        ``self.key``) and delete ``deleted_keys`` — the
        whenMatchedUpdate / whenNotMatchedInsert / whenMatchedDelete
        triple, executed file-granularly:

        1. prune live files driver-side against the batch's key
           set/range using per-file stats (files whose range cannot
           hold an affected key are NEVER OPENED);
        2. probe which candidates actually contain an affected key
           (semi-join against a scan tagged with input_file_name());
        3. rewrite ONLY those files' rows: survivors (rows whose key
           is neither changed nor deleted) + the changed rows
           (minus deletes); untouched files are re-referenced as-is;
        4. changed keys absent from the table insert via the same
           union (they appear in no file, so they survive the
           anti-join unconditionally);
        5. commit {adds: rewritten+inserted files, removes: touched
           files} as one atomic log entry.

        Returns the committed version (or the current one when
        ``app_txn_id`` was already applied — idempotent replay).
        """
        key = self.key
        snap = self._snapshot()
        if app_txn_id is not None and app_txn_id in snap.txn_ids:
            return snap.version
        pmeta = self._reconcile_partitioning(snap)
        if deleted_keys is None:
            deleted_keys = changed.select(key).limit(0)
        deleted_keys = deleted_keys.select(key).distinct()

        affected = (changed.select(key)
                    .unionByName(deleted_keys).distinct()
                    .localCheckpoint())
        candidates = self._prune_candidates(snap.live, affected)
        dv_cands = any(p in snap.dvs for p in candidates)
        if candidates and dv_cands:
            # DV-masked candidates: probe over the LIVE rows only (a
            # file whose every affected row is already masked is not
            # touched). The _dv_file tag from the position join IS
            # the log's literal rel path — no URI decode or
            # cache-empty fallback needed. (_metadata only resolves
            # directly on the scan, so tag before the anti-join.)
            live_rows = self._live_rows_tagged(candidates, snap.dvs)
            touched = sorted(
                r["_dv_file"] for r in
                live_rows.join(affected, key, "left_semi")
                .select("_dv_file").distinct().collect())
        elif candidates:
            tagged = (self._read_files(candidates)
                      .withColumn("_file", F.input_file_name()))
            # file list is bounded by file count (driver-side by
            # design — the same cardinality Delta's log fold holds on
            # the driver)
            touched_uris = [r["_file"] for r in
                            tagged.join(affected, key, "left_semi")
                            .select("_file").distinct().collect()]
            if any(not u for u in touched_uris):
                # input_file_name() came back EMPTY: a caller has the
                # same files CACHED (Spark's cache manager matches the
                # probe scan by canonical plan and serves rows from the
                # in-memory relation, which has no file context).
                # Correctness must not depend on caller cache state —
                # degrade to rewriting every candidate (a superset of
                # touched; still stat-pruned, just less tightly).
                touched = sorted(candidates)
            else:
                touched = sorted(
                    os.path.relpath(_decode_uri(u), self.path)
                    for u in touched_uris)
        else:
            touched = []               # first merge == pure insert
        self.last_merge_probe = {
            "live_files": len(snap.live),
            "candidate_files": sorted(candidates),
            "touched_files": touched,
        }
        upserts = changed.join(deleted_keys, key, "left_anti")
        if touched:
            # survivors read through the deletion vectors: a rewrite
            # MATERIALIZES the touched files' DVs (masked rows do not
            # survive into the new files), and the commit's removes
            # drop their pointers
            survivors = (self._read_live(touched, snap.dvs)
                         .join(affected, key, "left_anti"))
            # schema evolution: a widening batch unions by name with
            # nulls on the narrow side; strict mode fails loudly
            new_rows = survivors.unionByName(
                upserts, allowMissingColumns=self.schema_evolution)
        else:
            new_rows = upserts
        # rewrite is read-from-committed-files, write-to-new-dir: no
        # read-own-input hazard, so no checkpoint needed
        v = snap.version + 1
        adds = self._write_data(new_rows, v)
        self._validate_staged(adds, snap.constraints,
                              "the merge batch")
        self._commit(v, adds, touched, "merge", app_txn_id,
                     extra=pmeta or None,
                     prior_live=snap.live, prior_dvs=snap.dvs)
        return v

    def delete(self, keys: DataFrame | None = None,
               where=None, app_txn_id: str | None = None,
               retries: int = 0) -> int:
        """Merge-on-read DELETE via deletion vectors (the public
        Delta deletionVectors feature, enabled there with
        ``delta.enableDeletionVectors``): instead of rewriting every
        touched file minus the deleted rows (what ``merge(...,
        deleted_keys=...)`` does — copy-on-write, O(touched rows)
        written), this records the deleted ROW POSITIONS in a small
        parquet and repoints the files' DV pointers in one atomic
        commit — O(deleted positions) written, zero data files
        rewritten. At 100 TB, a GDPR-style purge of 0.01% of keys
        stops costing a rewrite of every file that holds one.

        Exactly one of:

        - ``keys``: DataFrame of key values — stat/bloom-pruned like
          a merge (files that cannot hold an affected key are never
          opened);
        - ``where``: SQL predicate string or Column. String
          predicates of stat-checkable shape (comparisons / IN /
          BETWEEN over AND/OR referencing the key or ``stats_cols``)
          prune candidate files against the per-file [min, max]
          ranges before any scan (VERDICT r10 task 4); Column objects
          and richer expressions evaluate over every live file — the
          win there is still writing no data files.

        A file whose every remaining row dies is dropped from the
        snapshot outright (no pointer to an all-masked file). Rows
        already masked by an earlier delete do not re-delete (the
        change feed reports each row's deletion exactly once).
        Readers mask positions with a broadcast anti-join;
        ``compact()`` materializes heavily-masked files (>= 20%) and
        is the pressure valve that keeps that broadcast bounded.
        Returns the committed version — unchanged when nothing
        matched (no empty commits)."""
        for attempt in range(retries + 1):
            try:
                return self._delete_once(keys, where, app_txn_id)
            except CommitConflict:
                if attempt == retries:
                    raise
            except Exception as exc:
                if attempt == retries or not _is_lost_file_error(exc):
                    raise              # see merge(): stale-file rebase

    def _delete_once(self, keys: DataFrame | None, where,
                     app_txn_id: str | None) -> int:
        from pyspark.sql import Column
        key = self.key
        if (keys is None) == (where is None):
            raise ValueError(
                "delete: exactly one of keys= / where= is required")
        snap = self._snapshot()
        if app_txn_id is not None and app_txn_id in snap.txn_ids:
            return snap.version
        pmeta = self._reconcile_partitioning(snap)
        if not snap.live:
            raise TableStateError(
                f"TxnTable at {self.path} has no committed data")
        if keys is not None:
            keys = keys.select(key).distinct().localCheckpoint()
            candidates = self._prune_candidates(snap.live, keys)
        else:
            candidates = self._prune_where_candidates(snap, where)
        self.last_delete_probe = {
            "live_files": len(snap.live),
            "candidate_files": sorted(candidates)}
        if not candidates:
            return snap.version
        live_rows = self._live_rows_tagged(candidates, snap.dvs)
        if keys is not None:
            matched = live_rows.join(keys, key, "left_semi")
        else:
            cond = where if isinstance(where, Column) else F.expr(where)
            matched = live_rows.where(cond)
        # sever the lineage once: the positions are counted per file,
        # classified, and written — three consumers of one O(deleted)
        # frame
        matched = matched.select("_dv_file", "_dv_pos").localCheckpoint()
        v = snap.version + 1
        dead, extra = self._mask_commit_parts(matched, snap, v)
        if not dead and not extra:
            return snap.version        # nothing matched: no commit
        extra.update(pmeta)
        self._commit(v, [], dead, "delete", app_txn_id,
                     extra=extra or None,
                     prior_live=snap.live, prior_dvs=snap.dvs)
        return v

    def _mask_commit_parts(self, matched: DataFrame,
                           snap: Snapshot, v: int) -> tuple[list, dict]:
        """Shared masking step for DV delete and merge-on-read MERGE:
        classify the matched LIVE positions (``matched`` must already
        exclude previously-masked ones) into fully-dead files (every
        remaining row died — dropped outright) and files getting a
        new cumulative vector; writes the vector parquet and returns
        (dead_files, commit extra with dvs/dv_prior/dv_stats)."""
        per_file = {r["_dv_file"]: r["n"] for r in
                    matched.groupBy("_dv_file")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
        if not per_file:
            return [], {}
        dead, dv_files = [], []
        for p, n_new in sorted(per_file.items()):
            rows = (snap.live.get(p) or {}).get("rows")
            old_card = snap.dvs.get(p, {}).get("card", 0)
            if isinstance(rows, int) and old_card + n_new >= rows:
                dead.append(p)         # every remaining row died
            else:
                dv_files.append(p)
        dvs_entry: dict = {}
        extra: dict = {}
        if dv_files:
            # CUMULATIVE vector per file: old positions (with their
            # original _dv_commit tags) + this commit's, in one new
            # dir — one pointer per file serves every future read,
            # and (new dir minus prior dir) is exactly this commit's
            # delta for the change feed
            new_pos = (matched
                       .where(F.col("_dv_file").isin(dv_files))
                       .withColumn("_dv_commit",
                                   F.lit(v).cast("long")))
            carry_sel = {p: snap.dvs[p]["dir"] for p in dv_files
                         if p in snap.dvs}
            carry = self._dv_positions(carry_sel, with_commit=True)
            all_pos = (new_pos if carry is None
                       else new_pos.unionByName(carry))
            rel_dir = os.path.join(
                "data", f"dv-{v:08d}-{uuid.uuid4().hex[:8]}")
            total = sum(per_file[p] + snap.dvs.get(p, {}).get("card", 0)
                        for p in dv_files)
            nparts = max(1, -(-total // self.rows_per_file))
            (all_pos.repartition(nparts, "_dv_file")
             .write.mode("error")
             .parquet(os.path.join(self.path, rel_dir)))
            for p in dv_files:
                card = per_file[p] + snap.dvs.get(p, {}).get("card", 0)
                dvs_entry[p] = {"dir": rel_dir, "card": card,
                                "new": per_file[p]}
            extra["dvs"] = dvs_entry
            # prior pointers make the entry self-contained for the
            # feed (new minus prior = this commit's deleted positions)
            extra["dv_prior"] = {p: snap.dvs.get(p) for p in dvs_entry}
            # exact per-file changed-row counts for the streaming
            # source's per-task slicing
            extra["dv_stats"] = {p: per_file[p] for p in dvs_entry}
        return dead, extra

    def compact(self, small_rows_threshold: int | None = None,
                retries: int = 0, purge_dvs: bool = False,
                zorder_by: tuple[str, str] | None = None,
                where: str | None = None) -> int:
        """OPTIMIZE: fold small data files into ~rows_per_file-sized
        key-clustered ones in one atomic commit (Delta's bin-packing
        OPTIMIZE). Micro-batch merges add one small file per epoch —
        without compaction the file count (and the driver-side log
        fold, and every scan's task count) grows with EPOCHS instead
        of with DATA. Only files below ``small_rows_threshold``
        (default rows_per_file / 2, using the stats row counts; files
        without stats count as small) are rewritten; large files are
        left untouched. Readers are unaffected mid-compact: the old
        files stay live until the single commit swaps the references.
        Returns the committed version, or the current one when
        nothing qualifies (needs >= 2 small files to pay for itself).

        ``purge_dvs=True`` additionally rewrites EVERY file carrying
        a deletion vector regardless of mask fraction — Delta's
        ``REORG TABLE ... APPLY (PURGE)``: the post-commit snapshot
        has zero masked positions, so reads drop the position
        anti-join entirely.

        ``zorder_by=(col_a, col_b)`` re-lays the WHOLE table on a
        Morton curve of the two (numeric) columns instead of
        key-range clustering — Delta's ``OPTIMIZE ZORDER BY``. Each
        output file covers a small rectangle in (a, b) space, so the
        per-file stats recorded for those columns (put them in
        ``stats_cols``) prune ``read_for_range`` scans on EITHER
        column. Trade-off (same as Delta's): the files' KEY ranges
        widen, so key-probe pruning degrades to blooms — bloom_bits
        is the right companion.

        ``where=`` scopes the compaction to files that could hold a
        matching row (Delta's ``OPTIMIZE ... WHERE``, generalized to
        any predicate the interval grammar can check against the
        per-file stats): on a partitioned table
        ``compact(where="day = '2024-06-01'")`` bin-packs or
        Z-orders ONE partition in O(that partition) — the nightly
        maintenance shape for a time-partitioned 100-TB table.
        Compacting a subset is always sound (the rewrite preserves
        exactly the subset's live rows); an unparseable predicate
        refuses rather than silently compacting everything, and a
        scoped run skips the table-global DV-cardinality trigger
        (scoped means scoped).

        ``retries``: like ``merge(retries=N)`` — on a CommitConflict
        (a concurrent writer landed a commit between this compact's
        snapshot and its CAS) the WHOLE compact re-runs against the
        fresh snapshot, so the small-file set re-evaluates and a file
        a racing merge just rewrote is never doubly referenced or
        stale-referenced (VERDICT r7 #3: compact previously had no
        rebase path even though merge did, so a multi-writer table's
        auto-compact could fail a streaming epoch). A losing
        attempt's packed files are unreferenced orphans (vacuum
        collects them), never corruption.
        """
        for attempt in range(retries + 1):
            try:
                return self._compact_once(small_rows_threshold,
                                          purge_dvs, zorder_by, where)
            except CommitConflict:
                if attempt == retries:
                    raise
            except Exception as exc:
                if attempt == retries or not _is_lost_file_error(exc):
                    raise              # see merge(): stale-file rebase

    def _compact_once(self,
                      small_rows_threshold: int | None = None,
                      purge_dvs: bool = False,
                      zorder_by: tuple[str, str] | None = None,
                      where: str | None = None) -> int:
        thr = (self.rows_per_file // 2 if small_rows_threshold is None
               else small_rows_threshold)
        snap = self._snapshot()
        pmeta = self._reconcile_partitioning(snap)
        # OPTIMIZE ... WHERE (Delta's partition-scoped OPTIMIZE, here
        # generalized to any stat-checkable predicate): restrict the
        # candidate set to files that COULD hold a matching row —
        # compacting any SUBSET of files is always sound (the rewrite
        # preserves exactly the subset's live rows), so on a
        # partitioned table `where="day = '...'"` compacts one
        # partition in O(that partition) and every other file is not
        # even statted. An unparseable predicate refuses: the caller
        # asked for a scope, silently compacting the world isn't one.
        scope: set | None = None
        if where is not None:
            if _parse_predicate(where) is None:
                raise ValueError(
                    f"compact(where=...): predicate {where!r} is not "
                    f"statically checkable (comparisons / IN / "
                    f"BETWEEN over AND/OR on stat-covered columns)")
            scope = set(self._prune_where_candidates(snap, where))

        def _masked(p) -> int:
            return snap.dvs.get(p, {}).get("card", 0)

        if zorder_by:
            # full-table (or full-scope) re-layout
            small = [p for p in snap.live
                     if scope is None or p in scope]
            if not small:
                return snap.version
        else:
            # "small" by EFFECTIVE rows (stats count minus DV-masked),
            # so a file whittled down by merge-on-read deletes
            # qualifies for bin-packing; additionally any file with
            # >= 20% of its rows masked is rewritten outright — compact
            # is the DV MATERIALIZER (Delta's REORG/purge), the
            # pressure valve that keeps the read path's broadcast of
            # masked positions bounded. purge_dvs forces EVERY masked
            # file in.
            small = [p for p, s in snap.live.items()
                     if (scope is None or p in scope)
                     and (not s or s.get("rows") is None
                          or s["rows"] - _masked(p) <= thr
                          or (_masked(p) > 0
                              and _masked(p) * 5 >= s["rows"])
                          or (purge_dvs and _masked(p) > 0))]
            # GLOBAL masked-cardinality trigger (VERDICT r10 #2): the
            # per-file 20% rule never fires on a table of MANY files
            # each lightly masked, yet their SUM is what a scan must
            # hold. When the table's total unpurged cardinality
            # exceeds the read budget, pull in the most-masked files
            # (descending) until the remainder sits at half the
            # budget (hysteresis — the next trickle of deletes does
            # not immediately re-trigger).
            total_card = sum(_masked(p) for p in snap.live)
            if scope is None and total_card > self.dv_broadcast_budget:
                chosen = set(small)
                rem = total_card - sum(_masked(p) for p in chosen)
                for p in sorted(
                        (q for q in snap.dvs
                         if q in snap.live and q not in chosen),
                        key=lambda q: -_masked(q)):
                    if rem <= self.dv_broadcast_budget // 2:
                        break
                    chosen.add(p)
                    rem -= _masked(p)
                small = [p for p in snap.live if p in chosen]
            # a single DV-carrying file is still worth rewriting (the
            # rewrite drops its vector); plain bin-packing needs >= 2
            if len(small) < 2 and not any(_masked(p) for p in small):
                return snap.version
        df = self._read_live(small, snap.dvs)
        n = df.count()
        nfiles = max(1, -(-n // self.rows_per_file))
        if zorder_by:
            from ..operators.layout import zorder_layout
            a, b = zorder_by
            for c in (a, b):
                if c not in df.columns:
                    raise ValueError(
                        f"compact(zorder_by): column {c!r} not in "
                        f"the table schema")
            # range-partition on the Z-VALUE: each output file gets a
            # contiguous Morton range = a small (a, b) rectangle, so
            # both columns' per-file min/max stay tight
            zb = zorder_layout(df, a, b)
            packed = (zb.repartitionByRange(nfiles, "zvalue")
                      .sortWithinPartitions("zvalue")
                      .drop("zvalue", "zbucket"))
        elif self.key in df.columns:
            packed = df.repartitionByRange(nfiles, self.key)
        else:
            packed = df.coalesce(nfiles)
        # bypass cluster_writes' own count/repartition: already packed
        cw, self.cluster_writes = self.cluster_writes, False
        try:
            v = snap.version + 1
            adds = self._write_data(packed, v)
        finally:
            self.cluster_writes = cw
        self._commit(v, adds, sorted(small), "compact", None,
                     extra=pmeta or None,
                     prior_live=snap.live, prior_dvs=snap.dvs)
        return v


    def constraints(self) -> dict[str, str]:
        """Current CHECK constraints (name -> boolean SQL expr)."""
        return dict(self._snapshot().constraints)

    def _enforce_constraints(self, df: DataFrame,
                             constraints: dict[str, str],
                             what: str) -> None:
        """Refuse a write whose rows violate any CHECK constraint —
        one aggregate pass counts violations of every constraint at
        once (a row where the expression is NULL violates, like
        Delta: CHECK requires TRUE). An expression that no longer
        resolves against the batch schema fails loudly too.
        Aggregates use POSITIONAL aliases (_c0.._cN) mapped back to
        constraint names: a constraint name is user data (dots,
        backticks, spaces) and must never be parsed as a column
        alias (ADVICE r9)."""
        if not constraints:
            return
        names = sorted(constraints)
        row = df.agg(*[
            F.sum(F.when(~F.expr(constraints[n]).eqNullSafe(F.lit(True)),
                         1).otherwise(0)).alias(f"_c{i}")
            for i, n in enumerate(names)]).collect()[0]
        bad = {n: int(row[f"_c{i}"])
               for i, n in enumerate(names) if row[f"_c{i}"]}
        if bad:
            detail = "; ".join(
                f"'{n}' ({constraints[n]}): {c} row(s)"
                for n, c in bad.items())
            raise ValueError(
                f"CHECK constraint violated by {what}: {detail}")

    def _validate_staged(self, adds: list[dict],
                         constraints: dict[str, str],
                         what: str) -> None:
        """CHECK-validate the files ``_write_data`` just staged, so
        validation and write see ONE materialization: the round-9
        shape validated the input DataFrame and then recomputed it
        for the write, letting a non-deterministic source (rand(),
        re-read of a mutating upstream) land rows that were never
        validated (ADVICE r9). Reading the staged parquet back costs
        one O(batch) pass straight out of page cache — the same
        price the stats pass already pays — and replaces the extra
        full input-plan execution the pre-write check cost. A
        refusal deletes the staged files (and their commit dir)
        before raising: the failed write leaves no orphans."""
        if not constraints or not adds:
            return
        try:
            self._enforce_constraints(
                self._read_files([a["path"] for a in adds]),
                constraints, what)
        except Exception as e:
            # ANY validation failure must clean up the staged files —
            # not just a counted violation: a constraint expression
            # that no longer resolves against the written schema
            # raises AnalysisException here, and letting it escape
            # uncleaned would orphan the staged commit dir AND break
            # the ValueError error contract (code-review r10)
            import shutil
            for d in {os.path.dirname(os.path.join(self.path,
                                                   a["path"]))
                      for a in adds}:
                # the staged commit dir is per-attempt (uuid-suffixed)
                # and exclusively this write's: remove it whole, not
                # file-by-file — rmdir left the dir behind whenever
                # the writer dropped _SUCCESS/.crc markers in it
                shutil.rmtree(d, ignore_errors=True)
            if isinstance(e, ValueError):
                raise
            raise ValueError(
                f"CHECK constraint validation failed for {what}: "
                f"{e}") from e

    def set_constraint(self, name: str, expr: str,
                       retries: int = 0) -> int:
        """Delta's ALTER TABLE ADD CONSTRAINT: register a boolean SQL
        expression every row of the table must satisfy. EXISTING data
        is validated first (one aggregate scan — the same price Delta
        pays) and the call refuses if any current row violates; from
        then on every ``merge``/``overwrite`` batch is validated
        before any file is written, and ``restore`` validates the
        rows it would resurrect. The constraint is a metadata-only
        commit folded like any other log entry and carried by
        checkpoints, so it survives ``cleanup_log``."""
        for attempt in range(retries + 1):
            try:
                return self._set_constraint_once(name, expr)
            except CommitConflict:
                if attempt == retries:
                    raise

    def _set_constraint_once(self, name: str, expr: str) -> int:
        snap = self._snapshot()
        if not name or not isinstance(name, str):
            raise ValueError(
                "set_constraint: name must be a non-empty string")
        # eager parse + analysis: a malformed or unresolvable
        # expression must fail HERE on the ValueError contract, not
        # escape as a raw Spark traceback from some later write's
        # validation aggregate (ADVICE r9). Parsing is local; the
        # resolution probe analyzes against a ZERO-ROW frame of the
        # table schema (footers only, no data read).
        try:
            from pyspark.errors import AnalysisException
        except ImportError:                    # pragma: no cover
            from pyspark.sql.utils import AnalysisException
        try:
            col = F.expr(expr)
            if snap.live:
                _ = self._empty_like(snap).select(
                    col.cast("boolean")).schema
        except AnalysisException as e:
            raise ValueError(
                f"set_constraint({name!r}): expression {expr!r} does "
                f"not parse/resolve against the table schema: "
                f"{e.getMessage() if hasattr(e, 'getMessage') else e}"
            ) from e
        if snap.live:
            # through the deletion vectors: rows already masked are
            # logically deleted and must not fail a new constraint
            self._enforce_constraints(
                self._read_live(list(snap.live), snap.dvs),
                {name: expr}, "existing table data")
        v = snap.version + 1
        self._commit(v, [], [], "set_constraint", None,
                     extra={"constraint_set": {name: expr}})
        return v

    def drop_constraint(self, name: str, retries: int = 0) -> int:
        """Delta's ALTER TABLE DROP CONSTRAINT — metadata-only."""
        for attempt in range(retries + 1):
            try:
                snap = self._snapshot()
                if name not in snap.constraints:
                    raise ValueError(
                        f"drop_constraint({name!r}): no such "
                        f"constraint; have {sorted(snap.constraints)}")
                v = snap.version + 1
                self._commit(v, [], [], "drop_constraint", None,
                             extra={"constraint_drop": [name]})
                return v
            except CommitConflict:
                if attempt == retries:
                    raise

    def restore(self, version: int, app_txn_id: str | None = None,
                retries: int = 0) -> int:
        """Delta RESTORE: make the CURRENT state equal
        ``read(as_of=version)`` via ONE new commit that re-references
        the target snapshot's files and removes the rest — no data is
        copied or rewritten, so the cost is O(log fold), zero bytes
        moved. History moves FORWARD (a bad merge is undone by a new
        version whose content equals the old one, the bad version
        stays inspectable via time travel), and the change feed serves
        the restore commit as the row-level diff between the two
        states — exactly Delta's RESTORE + CDF behavior.

        Raises ``ValueError`` when the target is not reconstructable:
        its log entries were removed by ``cleanup_log`` (the
        ``_snapshot`` refusal) or any of its files were collected by
        ``vacuum`` — committing would resurrect dangling references
        (Delta refuses the same way unless forced). Returns the new
        version, or the current one when the target state already
        equals the current state (no-op: nothing to commit).

        ``retries``: like ``merge``/``compact`` — on a CommitConflict
        the whole restore re-plans against the fresh snapshot (the
        file DELTA changes under a racing writer, the target state
        does not).

        Reference anchor: the reference undoes a bad batch by
        replaying events from the change_log pre-images row by row
        (/root/reference/adsmp/models.py:127-141); the log-structured
        table answers it with a metadata-only commit."""
        for attempt in range(retries + 1):
            try:
                return self._restore_once(version, app_txn_id)
            except CommitConflict:
                if attempt == retries:
                    raise

    def _restore_once(self, version: int,
                      app_txn_id: str | None) -> int:
        snap = self._snapshot()
        if app_txn_id is not None and app_txn_id in snap.txn_ids:
            return snap.version
        if not (0 <= version <= snap.version):
            raise ValueError(
                f"restore({version}): need 0 <= version <= latest "
                f"committed version ({snap.version})")
        target = self._snapshot(as_of=version)   # raises if log cleaned
        missing = []
        # resurrected DELETION-VECTOR dirs get the same treatment as
        # data files: touch-to-refresh + existence check (a DV dir
        # vacuumed below the horizon makes the target state
        # unreconstructable — its masked positions are unknowable)
        dv_paths: list[str] = []
        for d in sorted({dv["dir"] for dv in target.dvs.values()}):
            full_d = os.path.join(self.path, d)
            if not os.path.isdir(full_d):
                missing.append(d)
                continue
            dv_paths.extend(os.path.join(d, n)
                            for n in os.listdir(full_d))
        for p in list(target.live) + dv_paths:
            full = os.path.join(self.path, p)
            try:
                # touch-to-refresh BEFORE the existence check: the
                # files restore resurrects are old and referenced by
                # no retained snapshot until the restore commit lands,
                # so vacuum's min_age guard (built for fresh writer
                # output) did not protect them — a vacuum that
                # computed its protected set before this commit could
                # unlink them mid-restore (ADVICE r9). A fresh mtime
                # puts them inside any honest vacuum's age window;
                # vacuum(min_age_seconds=0) already documents
                # "only when no other writer can be in flight".
                os.utime(full, None)
            except OSError:
                # utime can fail for reasons other than absence (a
                # file another writer owns on a strict-permission
                # mount) — only a genuinely MISSING file refuses; a
                # present-but-untouchable one proceeds unrefreshed
                # and relies on the post-commit re-verify arm below
                if not os.path.exists(full):
                    missing.append(p)
        if missing:
            raise ValueError(
                f"restore({version}): data files {sorted(missing)} "
                f"were collected by vacuum — the target snapshot is "
                f"not reconstructable below the retention horizon")
        adds = [{"path": p,
                 **(s or {"min_key": None, "max_key": None,
                          "rows": None})}
                for p, s in target.live.items() if p not in snap.live]
        removes = [p for p in snap.live if p not in target.live]
        # DV pointer delta: every file live in the TARGET whose
        # pointer differs from the current one — including clears
        # (null: restoring to a pre-delete version detaches the
        # vector, resurrecting its masked rows) and re-attachments on
        # files the restore re-adds (fold order: adds pop, dvs set)
        dvs_delta: dict = {}
        for p in target.live:
            tgt, cur = target.dvs.get(p), snap.dvs.get(p)
            if p not in snap.live:
                if tgt is not None:
                    dvs_delta[p] = dict(tgt)
            elif (tgt or {}).get("dir") != (cur or {}).get("dir"):
                dvs_delta[p] = dict(tgt) if tgt is not None else None
        if not adds and not removes and not dvs_delta:
            return snap.version        # already that state: no commit
        if snap.constraints:
            # a constraint added AFTER the target version may not hold
            # for the rows restore would resurrect — validate just the
            # re-referenced files (through the TARGET's vectors: the
            # masked rows do not come back) plus the rows a pointer
            # clear unmasks; O(restored delta), not the table
            frames = []
            if adds:
                frames.append(self._read_live(
                    [a["path"] for a in adds], target.dvs))
            kept = {p: d for p, d in dvs_delta.items()
                    if p in snap.live}
            if kept:
                old_pos = self._dv_positions(
                    {p: snap.dvs[p]["dir"] for p in kept
                     if p in snap.dvs})
                new_pos = self._dv_positions(
                    {p: d["dir"] for p, d in kept.items()
                     if d is not None})
                if old_pos is not None:
                    diff = (old_pos if new_pos is None else
                            old_pos.join(new_pos,
                                         ["_dv_file", "_dv_pos"],
                                         "left_anti"))
                    res = self._rows_at(diff)
                    if res is not None:
                        frames.append(res)
            if frames:
                un = frames[0]
                for fr in frames[1:]:
                    un = un.unionByName(fr, allowMissingColumns=True)
                self._enforce_constraints(
                    un, snap.constraints,
                    f"rows restored from version {version}")
        extra: dict = {}
        if dvs_delta:
            extra["dvs"] = dvs_delta
            extra["dv_prior"] = {p: snap.dvs.get(p) for p in dvs_delta}
            # slicing upper bound for the streaming feed: the position
            # delta can't exceed the union of both vectors
            extra["dv_stats"] = {
                p: ((d or {}).get("card", 0)
                    + (snap.dvs.get(p) or {}).get("card", 0))
                for p, d in dvs_delta.items()}
        v = snap.version + 1
        self._commit(v, adds, removes, "restore", app_txn_id,
                     extra=extra or None,
                     prior_live=snap.live, prior_dvs=snap.dvs)
        # post-commit re-verify (detection arm of the same race): a
        # vacuum pass that ignored the age guard can still have
        # unlinked a resurrected file between the check and the
        # commit, leaving a committed version with dangling
        # references. Roll FORWARD with a compensating commit that
        # re-references the pre-restore state (those files were live
        # a moment ago — every retained snapshot still protects
        # them), then raise so the caller knows the restore did not
        # stick.
        gone = [a["path"] for a in adds
                if not os.path.exists(os.path.join(self.path, a["path"]))]
        gone += [d for d in sorted({dv["dir"]
                                    for dv in target.dvs.values()})
                 if not os.path.isdir(os.path.join(self.path, d))]
        if gone:
            comp_adds = [{"path": p,
                          **(s or {"min_key": None, "max_key": None,
                                   "rows": None})}
                         for p, s in snap.live.items()
                         if p not in target.live]
            # the compensation must not itself publish dangling refs:
            # once the restore commit became the head, snap.live's
            # dropped files stopped being live-protected too, so the
            # same rogue vacuum may have taken them. Verify before
            # committing; if the pre-restore files are also gone the
            # table has genuinely lost data to a guard-ignoring
            # vacuum and the only honest move is to say so.
            comp_gone = [a["path"] for a in comp_adds
                         if not os.path.exists(
                             os.path.join(self.path, a["path"]))]
            comp_gone += [d for d in sorted({dv["dir"] for dv
                                             in snap.dvs.values()})
                          if not os.path.isdir(
                              os.path.join(self.path, d))]
            comp_removes = [a["path"] for a in adds]
            # the roll-forward must also restore the PRE-restore DV
            # pointers (inverse of dvs_delta, same fold semantics)
            comp_dvs: dict = {}
            for p in snap.live:
                pre_dv, now_dv = snap.dvs.get(p), target.dvs.get(p)
                if p not in target.live:
                    if pre_dv is not None:
                        comp_dvs[p] = dict(pre_dv)
                elif (pre_dv or {}).get("dir") != (now_dv or {}).get("dir"):
                    comp_dvs[p] = (dict(pre_dv)
                                   if pre_dv is not None else None)
            comp_extra: dict = {}
            if comp_dvs:
                comp_extra["dvs"] = comp_dvs
                comp_extra["dv_prior"] = {p: target.dvs.get(p)
                                          for p in comp_dvs}
                comp_extra["dv_stats"] = {
                    p: ((d or {}).get("card", 0)
                        + (target.dvs.get(p) or {}).get("card", 0))
                    for p, d in comp_dvs.items()}
            if not comp_gone:
                try:
                    self._commit(v + 1, comp_adds, comp_removes,
                                 "restore", None,
                                 extra=comp_extra or None,
                                 prior_live=target.live,
                                 prior_dvs=target.dvs)
                except CommitConflict:
                    pass     # a later writer owns v+1; surface the loss
                raise ValueError(
                    f"restore({version}): data files {sorted(gone)} "
                    f"were collected by a concurrent vacuum after the "
                    f"commit — rolled forward to the pre-restore state")
            raise ValueError(
                f"restore({version}): a concurrent vacuum collected "
                f"restored files {sorted(gone)} AND pre-restore files "
                f"{sorted(comp_gone)} — both states lost data below "
                f"the retention guards; manual repair required")
        return v

    def history(self) -> list[dict]:
        """Commit history, oldest first: version, operation, commit
        wall time (ms epoch; None for pre-round-8 entries), add/
        remove counts, app txn id — the DESCRIBE HISTORY shape."""
        out = []
        for v, p in self._entry_files():
            e = self._load_json(p)
            out.append({"version": v, "operation": e.get("operation"),
                        "ts_ms": e.get("ts_ms"),
                        "adds": len(e.get("adds", [])),
                        "removes": len(e.get("removes", [])),
                        "dvs": len(e.get("dvs") or {}),
                        "app_txn_id": e.get("app_txn_id")})
        return out

    def vacuum(self, keep_versions: int = 10,
               min_age_seconds: float = 3600.0) -> list[str]:
        """Delete data files unreachable from the last
        ``keep_versions`` snapshots (Delta VACUUM): de-referenced
        rewrites older than the horizon AND orphan directories from
        crashed attempts. Files referenced by ANY retained snapshot
        are protected, so reads and time travel within the horizon
        are untouched; time travel OLDER than the horizon stops
        resolving (exactly Delta's retention contract).

        ``min_age_seconds`` additionally protects RECENT files
        regardless of references: a concurrent writer that has
        finished ``_write_data`` but not yet published its commit has
        on-disk files no snapshot references yet — deleting them
        would let its commit land pointing at nothing (silent data
        loss). Delta guards the same race with a modification-time
        retention window; pass 0 only when no other writer can be
        in flight. Returns the deleted table-relative paths."""
        import time

        latest = self.version()
        if latest < 0:
            return []
        horizon = max(0, latest - keep_versions + 1)
        try:
            hsnap = self._snapshot(as_of=horizon)
        except ValueError:
            # cleanup_log removed the entries needed to reconstruct
            # the horizon version: protect from the oldest version
            # that IS reconstructable instead (time travel below it
            # already raises, so nothing reachable loses files)
            vs = [v for v in self._checkpoint_versions()
                  if v >= horizon]
            hsnap = self._snapshot(as_of=vs[0] if vs else None)
        protected: set[str] = set(hsnap.live)
        # deletion-vector dirs are referenced state too: a collected
        # DV would UNDELETE its masked rows on every future read of a
        # still-live file — protect every dir referenced by the
        # horizon snapshot or by any retained entry (incl. the prior/
        # removed pointers the change feed needs for pre-images)
        protected_dirs: set[str] = {dv["dir"]
                                    for dv in hsnap.dvs.values()}
        for v, p in self._entry_files():
            if v > horizon:
                e = self._load_json(p)
                for a in e.get("adds", []):
                    protected.add(_as_add(a)[0])
                for dv in (e.get("dvs") or {}).values():
                    if dv:
                        protected_dirs.add(dv["dir"])
                for dv in (e.get("dv_prior") or {}).values():
                    if dv:
                        protected_dirs.add(dv["dir"])
                protected_dirs.update(
                    (e.get("remove_dvs") or {}).values())
        cutoff = time.time() - min_age_seconds
        data_root = os.path.join(self.path, "data")
        deleted = []
        import re as _re
        for root, _dirs, files in os.walk(data_root, topdown=False):
            # never touch a committer's in-flight staging tree: Spark's
            # Hadoop committer stages task output under _temporary/
            # before the job-commit rename, and those paths are (by
            # design) referenced by no snapshot — Delta's VACUUM skips
            # the same staging convention
            parts = os.path.relpath(root, data_root).split(os.sep)
            if "_temporary" in parts:
                continue
            # nor an IN-FLIGHT writer's staged commit/DV dir: both
            # families encode their target version (commit-%08d-*,
            # dv-%08d-*), and a dir staged for a version ABOVE the
            # currently-committed latest belongs to a writer whose
            # commit can still land — collecting it would let that
            # commit publish pointers to nothing (silent data loss)
            # or crash its stats read-back mid-write (the round-10/11
            # maintenance-race flake: a merge slower than
            # min_age_seconds lost its staged files to this walk).
            # A staged dir AT or BELOW the latest version can never
            # commit (the version is taken — its writer gets a
            # CommitConflict and restages), so it ages out normally;
            # crashed attempts above latest are collected as soon as
            # the next commit advances the version past them.
            m = _re.match(r"(?:commit|dv)-(\d{8})-", parts[0]) \
                if root != data_root else None
            if m and int(m.group(1)) > latest:
                continue
            for name in files:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.path)
                if rel in protected:
                    continue
                if os.path.dirname(rel) in protected_dirs:
                    continue           # live deletion-vector dir
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue           # too young: maybe in flight
                    os.unlink(full)
                except OSError:
                    continue               # lost a race: another vacuum
                deleted.append(rel)
            if root != data_root and not os.listdir(root):
                # the SAME age guard as files: a freshly-created empty
                # directory is a concurrent writer's commit dir or
                # staging dir that hasn't received its first file yet —
                # rmdir'ing it would crash that writer's tasks (found by
                # the concurrent-maintenance race test); aged-out empty
                # dirs are collected on the next vacuum pass instead
                try:
                    if os.path.getmtime(root) <= cutoff:
                        os.rmdir(root)
                except OSError:
                    pass
        return sorted(deleted)

    def cleanup_log(self, keep_versions: int = 0,
                    keep_checkpoints: int = 2) -> list[str]:
        """Log retention (Delta's ``logRetentionDuration`` analogue —
        the cost SCALE.md round 6 stated honestly: every operation
        LISTS ``_txn/``, O(total commits) dirents forever without
        this). Deletes commit entry files already superseded by the
        latest checkpoint — versions <= checkpoint - keep_versions —
        plus all but the newest ``keep_checkpoints`` checkpoint
        files. Current reads are untouched (they fold checkpoint +
        tail); time travel to a removed version now RAISES (``
        _snapshot`` refuses to fold a headless log) instead of
        silently resolving — the same contract as Delta, where
        pre-retention versions stop being reconstructable.

        Interplay with idempotent replay, the reason this waited for
        round 7: checkpoints now carry (version, txn_id) pairs for
        the retention window forward, so deleting old entries no
        longer discards replay-detection state — the checkpoint is
        self-sufficient. Returns deleted file names."""
        cp = self._read_last_checkpoint()
        if cp is None:
            return []                 # no checkpoint: nothing is safe
        try:                          # refuse to orphan a corrupt cp
            self._load_json(self._checkpoint_path(cp))
        except (OSError, ValueError):
            return []
        horizon = cp - keep_versions
        deleted = []
        for v, p in self._entry_files():
            if v <= horizon:
                os.unlink(p)
                deleted.append(os.path.basename(p))
        cps = self._checkpoint_versions()
        for v in cps[:-keep_checkpoints] if keep_checkpoints else cps:
            if v < cp:                # never the load-bearing one
                os.unlink(self._checkpoint_path(v))
                deleted.append(os.path.basename(
                    self._checkpoint_path(v)))
        return sorted(deleted)


def _bloom_digest(key) -> tuple[int, int]:
    """Two independent 64-bit hashes of the STRINGIFIED key (md5
    halves) — deliberately engine-free so the executor-side build and
    the driver-side probe share one definition."""
    import hashlib
    d = hashlib.md5(str(key).encode()).digest()
    return (int.from_bytes(d[:8], "big"),
            int.from_bytes(d[8:16], "big"))


def _bloom_contains(bloom: bytes, h: tuple[int, int], m: int) -> bool:
    for p in (h[0] % m, h[1] % m):
        if not bloom[p >> 3] & (1 << (p & 7)):
            return False
    return True


def _parse_predicate(s: str):
    """Parse a SQL predicate string into a tiny interval-checkable
    AST — ONLY the shapes file-stat pruning can reason about
    (VERDICT r10 task 4): comparisons of a column against a literal,
    ``IN`` lists, ``BETWEEN``, and ``AND``/``OR`` combinations, with
    ``DATE``/``TIMESTAMP`` literal prefixes mapping into the
    order-preserving ISO domain ``_stat_encode`` stores. Anything
    else (functions, NOT, IS NULL, column-vs-column, arithmetic)
    parses to ``None`` = unknown — the caller must then keep every
    file (conservative: never wrong pruning, just less of it). The
    row-level filter still applies on top, so pruning only ever has
    to be SOUND, not complete."""
    import re as _re
    tok_re = _re.compile(
        r"\s*(?:(?P<str>'(?:[^']|'')*')"
        r"|(?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
        r"|(?P<ident>[A-Za-z_][A-Za-z0-9_]*)"
        r"|(?P<op><=|>=|==|!=|<>|=|<|>|\(|\)|,))")
    toks: list[tuple[str, object]] = []
    i = 0
    while i < len(s):
        if s[i].isspace():
            i += 1
            continue
        m = tok_re.match(s, i)
        if not m:
            return None
        i = m.end()
        if m.group("str") is not None:
            toks.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("num") is not None:
            n = m.group("num")
            toks.append(("lit", float(n) if ("." in n or "e" in n
                                             or "E" in n) else int(n)))
        elif m.group("ident") is not None:
            w = m.group("ident")
            up = w.upper()
            if up in ("AND", "OR", "NOT", "IN", "BETWEEN",
                      "DATE", "TIMESTAMP", "TRUE", "FALSE", "IS",
                      "NULL", "LIKE"):
                toks.append(("kw", up))
            else:
                toks.append(("col", w))
        else:
            toks.append(("sym", m.group(0).strip()))
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else (None, None)

    def take():
        t = peek()
        pos[0] += 1
        return t

    def operand():
        k, v = peek()
        if k == "kw" and v in ("DATE", "TIMESTAMP"):
            take()
            k2, v2 = take()
            if k2 != "lit" or not isinstance(v2, str):
                raise ValueError
            return ("lit", v2)         # ISO text == the stats domain
        if k in ("lit", "col"):
            return take()
        raise ValueError

    def comparison():
        left = operand()
        k, v = peek()
        if k == "sym" and v in ("=", "==", "!=", "<>", "<", "<=",
                                ">", ">="):
            take()
            right = operand()
            if left[0] == "col" and right[0] == "lit":
                return ("cmp", left[1], v, right[1])
            if left[0] == "lit" and right[0] == "col":
                flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
                return ("cmp", right[1], flip.get(v, v), left[1])
            raise ValueError           # col-vs-col / lit-vs-lit
        if k == "kw" and v == "BETWEEN":
            take()
            lo = operand()
            k2, v2 = take()
            if (k2, v2) != ("kw", "AND"):
                raise ValueError
            hi = operand()
            if left[0] == "col" and lo[0] == hi[0] == "lit":
                return ("and",
                        ("cmp", left[1], ">=", lo[1]),
                        ("cmp", left[1], "<=", hi[1]))
            raise ValueError
        if k == "kw" and v == "IN":
            take()
            k2, v2 = take()
            if (k2, v2) != ("sym", "("):
                raise ValueError
            lits = []
            while True:
                o = operand()
                if o[0] != "lit":
                    raise ValueError
                lits.append(o[1])
                k3, v3 = take()
                if (k3, v3) == ("sym", ")"):
                    break
                if (k3, v3) != ("sym", ","):
                    raise ValueError
            return ("in", left[1], lits)
        raise ValueError

    def factor():
        k, v = peek()
        if (k, v) == ("sym", "("):
            take()
            node = expr()
            k2, v2 = take()
            if (k2, v2) != ("sym", ")"):
                raise ValueError
            return node
        return comparison()

    def term():
        node = factor()
        while peek() == ("kw", "AND"):
            take()
            node = ("and", node, factor())
        return node

    def expr():
        node = term()
        while peek() == ("kw", "OR"):
            take()
            node = ("or", node, term())
        return node

    try:
        node = expr()
        if pos[0] != len(toks):
            return None                # trailing tokens: bail out
        return node
    except (ValueError, IndexError):
        return None


def _pred_coerce(stat_v, lit):
    """Align a stat value and a predicate literal for a SOUND
    comparison: when BOTH are ISO date/datetime strings they parse to
    datetimes (a bare date becomes midnight), because the stats store
    fixed-width microsecond ISO text while a user literal like
    '2020-01-01' is short — lexicographic comparison of the two
    widths disagrees with Spark's cast semantics exactly at the
    boundary instant, which is the one place pruning must not skip.
    Non-ISO strings and non-strings pass through unchanged (plain
    string/number columns compare directly)."""
    import datetime as _dt

    def parse(x):
        if isinstance(x, str):
            try:
                return _dt.datetime.fromisoformat(x)
            except ValueError:
                return None
        return None

    ps, pl = parse(stat_v), parse(lit)
    if ps is not None and pl is not None:
        return ps, pl
    return stat_v, lit


def _pred_may_match(node, stat_fn) -> bool:
    """True iff a file whose per-column [mn, mx] ranges come from
    ``stat_fn(col)`` MAY hold a row matching the parsed predicate.
    Missing stats / incomparable types => True (never wrong
    pruning). Comparisons never match NULL rows and min/max ignore
    nulls, so range reasoning is sound."""
    op = node[0]
    if op == "and":
        return (_pred_may_match(node[1], stat_fn)
                and _pred_may_match(node[2], stat_fn))
    if op == "or":
        return (_pred_may_match(node[1], stat_fn)
                or _pred_may_match(node[2], stat_fn))
    if op == "cmp":
        _, col, cmp_op, lit = node
        mn, mx = stat_fn(col)
        if mn is None or mx is None:
            return True
        mn, lit_n = _pred_coerce(mn, lit)
        mx, lit_x = _pred_coerce(mx, lit)
        try:
            if cmp_op in ("=", "=="):
                return mn <= lit_n and lit_x <= mx
            if cmp_op in ("!=", "<>"):
                return not (mn == mx and mn == lit_n)
            if cmp_op == "<":
                return mn < lit_n
            if cmp_op == "<=":
                return mn <= lit_n
            if cmp_op == ">":
                return mx > lit_x
            if cmp_op == ">=":
                return mx >= lit_x
        except TypeError:
            return True
        return True
    if op == "in":
        _, col, lits = node
        mn, mx = stat_fn(col)
        if mn is None or mx is None:
            return True
        try:
            for l in lits:
                mn_c, l_n = _pred_coerce(mn, l)
                mx_c, l_x = _pred_coerce(mx, l)
                if mn_c <= l_n and l_x <= mx_c:
                    return True
            return False
        except TypeError:
            return True
    return True


def _flatten_partition_dirs(out_dir: str) -> None:
    """Move the hive-partitioned writer output's nested
    ``__part_c=v/.../part-*.parquet`` files up into ``out_dir`` with
    collision-proof names (part-file basenames repeat across hive
    dirs), then drop the emptied dirs — restoring the flat
    ``data/<commit>/<file>`` layout the position machinery's
    ``_rel_file_col`` three-component invariant relies on. Values are
    NOT parsed from the dir names: the stats pass reads them back
    typed from the data itself.

    Cost note: O(files-in-commit) driver-side metadata renames —
    free on a real filesystem. An object-store deployment would skip
    the flatten (keep the hive layout and widen ``_rel_file_col`` to
    four components, or carry partitionValues like Delta and read
    per-dir); the flat layout is chosen here because it keeps ONE
    path shape for every consumer (DV parquet, vacuum, restore,
    probes) instead of two."""
    import shutil
    seq = 0
    for root, _dirs, files in sorted(os.walk(out_dir)):
        if root == out_dir:
            continue
        for name in sorted(files):
            if name.endswith(".parquet") and not name.startswith("."):
                os.rename(os.path.join(root, name),
                          os.path.join(out_dir, f"p{seq:05d}-{name}"))
                seq += 1
    for name in os.listdir(out_dir):
        p = os.path.join(out_dir, name)
        if os.path.isdir(p):
            shutil.rmtree(p)


def _pred_columns(node) -> set:
    """Column names referenced by a ``_parse_predicate`` AST."""
    if node[0] in ("and", "or"):
        return _pred_columns(node[1]) | _pred_columns(node[2])
    return {node[1]}


def _pred_exact_match(node, vals: dict) -> bool:
    """Evaluate a parsed predicate against EXACT point values (a
    partitioned file's ``part`` dict) with SQL comparison semantics:
    a NULL value matches no comparison. Unlike ``_pred_may_match``
    this must never guess — an incomparable literal/value pair (user
    wrote ``p = 5`` against a string partition) raises instead of
    silently picking a side, because the caller is deciding whether
    to DROP the file."""
    op = node[0]
    if op == "and":
        return (_pred_exact_match(node[1], vals)
                and _pred_exact_match(node[2], vals))
    if op == "or":
        return (_pred_exact_match(node[1], vals)
                or _pred_exact_match(node[2], vals))
    if op == "cmp":
        _, col, cmp_op, lit = node
        v = vals[col]
        if v is None:
            return False
        v, lit = _pred_coerce(v, lit)
        try:
            if cmp_op in ("=", "=="):
                return v == lit
            if cmp_op in ("!=", "<>"):
                return v != lit
            return {"<": v < lit, "<=": v <= lit,
                    ">": v > lit, ">=": v >= lit}[cmp_op]
        except TypeError:
            raise ValueError(
                f"replace_where: literal {lit!r} is not comparable "
                f"with partition column {col!r} value {v!r}")
    # op == "in"
    _, col, lits = node
    v = vals[col]
    if v is None:
        return False
    hit = False
    for l in lits:
        vc, lc = _pred_coerce(v, l)
        try:
            hit = hit or vc == lc
        except TypeError:
            raise ValueError(
                f"replace_where: literal {l!r} is not comparable "
                f"with partition column {col!r} value {v!r}")
    return hit


def _decode_uri(uri: str) -> str:
    """input_file_name() returns a percent-encoded file URI
    ("file:///p%20ath/..." or "file:/path/..."); normalize back to a
    filesystem path."""
    from urllib.parse import unquote, urlparse
    return unquote(urlparse(uri).path) if ":" in uri else uri


def _jsonable(v) -> bool:
    return isinstance(v, (str, int, float)) and not isinstance(v, bool)


def _naive_utc(v):
    import datetime as _dt
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _stat_encode(v):
    """JSON-storable, ORDER-PRESERVING encoding for stats values:
    datetimes/dates become fixed-width ISO strings (lexicographic
    order == chronological order — timespec pinned so '10:00:00' vs
    '10:00:00.5' can't mis-compare on width), numbers/strings pass
    through, anything else becomes None (no pruning, never wrong
    pruning). The same function encodes both the stored min/max and
    the query bound, so comparisons always happen in one domain."""
    import datetime as _dt
    if v is None:
        return None
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v if _jsonable(v) else None


def txn_table(spark: SparkSession, path: str,
              key: str = "bibcode", **kw) -> TxnTable:
    return TxnTable(spark, path, key, **kw)
