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
  per-file ``stats``), read on the driver from the written files'
  parquet footers; entries with removes
  also carry ``remove_stats`` (removed path -> row count, copied from
  the prior snapshot), which ``cli lake delete`` sums into its
  ``deleted_rows`` report. A merge entry also records its sorted
  affected ``keys`` (when there are at most ``_IN_KEY_LIMIT`` of
  string or integer type). This is a one-way log format change: a
  reader that predates the ``keys`` field refuses such entries as an
  unknown table feature, so rolling back to it needs a checkpoint
  past the last keyed entry. The current snapshot is the ordered fold
  of the log: ``adds - removes``.
- **Schemas from footers**: scans pass the Spark schema stored in the
  first file's footer to the reader (memoized per path; data files
  are immutable), so building a scan runs no schema-inference job.
- **Atomic commit**: the entry is staged to a temp file and published
  with ``os.link`` (fails with EEXIST if the version was taken) — the
  optimistic-concurrency primitive; a crash before publish leaves
  only unreferenced temp/data files, never a torn table.
- **File-granular MERGE with file skipping**: the batch's affected
  keys are collected ONCE (up to ``_PRUNE_KEY_LIMIT``) and candidate
  files are pruned DRIVER-SIDE against them using the per-file
  min/max stats — a file whose key range cannot contain any
  affected key is never opened. Only candidates are scanned (tagged
  with ``input_file_name()``, filtered by an ``IN`` predicate on up
  to ``_IN_KEY_LIMIT`` collected keys, else by a semi-join on the
  pinned keys) to find the truly touched files; only
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
- **Change feed**: ``changes()`` derives row-level deltas from each
  commit's removes (pre-image) and adds (post-image), all commits of
  a range diffed in one plan. Merges that recorded ``keys`` read both
  images for those keys only; ``columns=`` projects the feed onto the
  key and those columns, so no other column is read.
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
  pointers, so each commit's position delta is self-contained).
  This is the public Delta deletionVectors shape: at 100 TB a purge
  of 0.01% of keys writes O(deleted positions), not a rewrite of
  every touched file.
- **Lifecycle**: ``read_for_keys`` (stat-pruned point reads),
  optional ``cluster_writes`` (range-partition every written batch —
  what makes min/max pruning effective), ``compact()`` (OPTIMIZE
  bin-packing: file count tracks data, not epochs), ``vacuum()``
  (retention-horizon GC of unreachable files with a
  modification-time guard for in-flight writers), ``cleanup_log()``
  (log retention) and ``history()`` (DESCRIBE HISTORY).

The table has no CHECK constraints, no Hive partitioning and no
RESTORE. A log or checkpoint that carries a constraint or a partition
declaration (written by an earlier version of this module) is refused
with ``TableStateError`` rather than read without it.

Scale notes: the log fold and file lists live on the driver — bounded
by FILE COUNT (what Delta itself keeps driver-side after parsing the
log), never by row count. All row work (membership probe, rewrite,
survivor union) is DataFrame joins or filters; the affected-key
collect is capped at ``_PRUNE_KEY_LIMIT`` keys, and above it pruning
falls back to min/max range overlap; above ``_IN_KEY_LIMIT`` keys the
row filters are semi/anti joins on a pinned key DataFrame.
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_txn"
_LAST_CHECKPOINT = "_last_checkpoint"
# batches with at most this many distinct keys prune candidate files
# by exact key containment; larger ones by min/max range overlap
_PRUNE_KEY_LIMIT = 65536
# batches with at most this many string or integer keys filter rows
# with one SQL IN predicate on them (and a merge records them as its
# entry's ``keys``); larger ones join against the pinned keys, which
# costs about one Spark job where analysing an IN list grows with it
# (on 4 cores a merge and its change feed cost the same both ways
# near 2,048 keys; the IN path is faster below)
_IN_KEY_LIMIT = 1024


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer staged —
    the optimistic-concurrency loss signal (Delta's
    ConcurrentModificationException). Safe to retry: the losing
    attempt's data files are unreferenced orphans, never corruption."""


class TableStateError(FileNotFoundError):
    """Deliberate complete-or-refuse refusal (reading / deleting from
    a table with no committed data, or a log that carries a removed
    table feature). Subclasses FileNotFoundError so
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
    log tail, and the per-file DELETION VECTOR pointers (data path ->
    {"dir", "card"}): merge-on-read deletes that mask rows of a live
    file without rewriting it (Delta's deletionVectors table
    feature)."""
    version: int = -1
    live: dict[str, dict | None] = field(default_factory=dict)
    txn_ids: set[str] = field(default_factory=set)
    dvs: dict[str, dict] = field(default_factory=dict)


# every field this module writes (or, for dv_stats, once wrote) into a
# log entry / checkpoint; a non-empty field outside these sets belongs
# to a removed table feature (CHECK constraints, Hive partitioning,
# replaceWhere)
_ENTRY_FIELDS = frozenset((
    "version", "operation", "ts_ms", "adds", "removes", "remove_stats",
    "remove_dvs", "app_txn_id", "dvs", "dv_prior", "dv_stats", "keys"))
_CHECKPOINT_FIELDS = frozenset((
    "version", "live", "txn_ids", "txn_pairs", "dvs"))


def _refuse_unknown_fields(d: dict, known: frozenset, where: str) -> None:
    """Refuse a log entry or checkpoint that carries a feature this
    module does not implement: folding it without that feature would
    silently drop a constraint or a table's partitioning."""
    bad = sorted(k for k, v in d.items() if k not in known and v)
    if bad:
        raise TableStateError(
            f"{where} carries {bad}, a table feature this TxnTable "
            f"does not support (CHECK constraints and Hive "
            f"partitioning were removed); refusing to read it "
            f"without them")


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
                 cluster_writes: bool = False,
                 rows_per_file: int = 500_000,
                 stats_cols: tuple[str, ...] = ("id", "updated"),
                 dv_broadcast_budget: int = 1_000_000):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.key = key
        self.checkpoint_every = checkpoint_every
        # NON-KEY columns to record per-file min/max for (Delta's
        # dataSkippingNumIndexedCols analogue — VERDICT r6 task 3):
        # names absent from a written frame are skipped, so the
        # default covers the records table ("updated" makes the cron
        # tick's watermark scan file-skipped via read_for_range; "id"
        # makes the table-wide max id a driver-side stat fold instead
        # of a full-table scan on every streaming insert epoch) and is
        # a no-op for tables without those columns. Their min/max come
        # from the same parquet footers as the key's.
        self.stats_cols = tuple(stats_cols)
        # cluster_writes range-partitions every written batch by key
        # (~rows_per_file rows per data file) — Delta's cluster-by
        # analogue. Key-clustered files are what make the min/max
        # stats pruning EFFECTIVE: a hash-partitioned bootstrap gives
        # every file the full key range and no file can ever be
        # skipped. A merge sizes the partitioning from an upper bound
        # it already knows; other writes pay one count() (O(batch)).
        self.cluster_writes = cluster_writes
        self.rows_per_file = rows_per_file
        # checkpoints retain app txn ids from this many trailing
        # commits (replay detection window — Delta's txn expiry)
        self.txn_retention_commits = 10_000
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

    def _fold_entry(self, snap: Snapshot, e: dict) -> None:
        _refuse_unknown_fields(
            e, _ENTRY_FIELDS,
            f"TxnTable log entry {e['version']} at {self._log_dir()}")
        snap.version = e["version"]
        for f in e.get("removes", []):
            snap.live.pop(f, None)
            snap.dvs.pop(f, None)
        for a in e.get("adds", []):
            p, stats = _as_add(a)
            snap.live[p] = stats
            snap.dvs.pop(p, None)      # a fresh add masks nothing
        # deletion-vector pointer deltas, AFTER adds/removes so an
        # entry that re-references a file AND attaches a DV to it
        # folds to the attached state (null detaches the pointer;
        # RESTORE commits of earlier versions wrote both shapes)
        for p, dv in (e.get("dvs") or {}).items():
            if dv is None:
                snap.dvs.pop(p, None)
            elif p in snap.live:
                snap.dvs[p] = {"dir": dv["dir"], "card": dv["card"]}
        if e.get("app_txn_id") is not None:
            snap.txn_ids.add(e["app_txn_id"])

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
            data = None
            try:
                data = self._load_json(self._checkpoint_path(cp))
                snap.version = data["version"]
                snap.live = dict(_as_add(a) for a in data["live"])
                snap.txn_ids = set(data["txn_ids"])
                snap.dvs = dict(data.get("dvs") or {})
            except (OSError, ValueError, KeyError, TypeError):
                # missing OR corrupt checkpoint: the retained log can
                # rebuild the state — fall back rather than wedging
                # every operation on one bad file
                snap = Snapshot()
                cp = None
            if isinstance(data, dict):
                _refuse_unknown_fields(
                    data, _CHECKPOINT_FIELDS,
                    f"TxnTable checkpoint {data.get('version')} at "
                    f"{self._log_dir()}")
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
                # deletion-vector pointers must outlive their delete
                # entries once the log head is cleaned
                "dvs": snap.dvs}
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
            # prior snapshot's add stats (known at commit time, free);
            # ``cli lake delete`` sums them into its deleted_rows
            # report. Stat-less removed files are omitted.
            rs = {p: (prior_live.get(p) or {}).get("rows")
                  for p in removes}
            # a removed file carrying a deletion vector has card rows
            # already masked: record its live rows (rows - card)
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
    def _write_data(self, df: DataFrame, version: int,
                    rows_hint: int | None = None) -> list[dict]:
        """Write ``df`` as new parquet files under a per-attempt dir;
        returns add records ``{"path", "min_key", "max_key", "rows"}``
        (table-relative paths). Files are invisible until the log
        entry referencing them commits — and the dir name carries an
        attempt id so a CRASHED earlier attempt's orphan directory
        (data written, commit never published) can never collide with
        the retry; orphans are unreferenced garbage, not corruption.

        The stats come from the written files' parquet footers, read
        on the driver (``_footer_stats``): row count plus min/max of
        the key and of ``stats_cols``, folded over row groups. Zero-row
        parts are dropped. A column whose footer carries no min/max
        (INT96 timestamps, floats, values too long for parquet stats)
        records ``None``, which every probe treats as a candidate.
        Under ``cluster_writes`` the range partitioning is sized from
        ``rows_hint`` (an upper bound the caller knows) or, without
        one, from a ``count()``."""
        rel_dir = os.path.join(
            "data", f"commit-{version:08d}-{uuid.uuid4().hex[:8]}")
        out_dir = os.path.join(self.path, rel_dir)
        if self.cluster_writes and self.key in df.columns:
            n = df.count() if rows_hint is None else rows_hint
            nfiles = max(1, -(-n // self.rows_per_file))
            df = df.repartitionByRange(nfiles, self.key)
        df.write.mode("error").parquet(out_dir)
        names = sorted(n for n in os.listdir(out_dir)
                       if n.endswith(".parquet"))
        stats = {}
        if names and self.key in df.columns:
            extras = [c for c in self.stats_cols
                      if c != self.key and c in df.columns]
            for n in list(names):
                rows, mm = _footer_stats(os.path.join(out_dir, n),
                                         [self.key] + extras)
                if not rows:
                    # a zero-row part (Spark writes them for some
                    # shuffle shapes): referencing it would seed an
                    # add that every probe opens for nothing — drop
                    # the file
                    os.unlink(os.path.join(out_dir, n))
                    names.remove(n)
                    continue
                mn, mx = mm[self.key]
                if not _jsonable(mn) or not _jsonable(mx):
                    mn = mx = None   # exotic key type: no pruning
                s = {"min_key": mn, "max_key": mx, "rows": rows}
                if extras:
                    s["cols"] = {c: {"mn": _stat_encode(mm[c][0]),
                                     "mx": _stat_encode(mm[c][1])}
                                 for c in extras}
                stats[n] = s
        return [{"path": os.path.join(rel_dir, n),
                 **stats.get(n, {"min_key": None, "max_key": None,
                                 "rows": None})}
                for n in names]

    def _read_files(self, files: list[str]) -> DataFrame:
        """Scan table-relative data files with the Spark schema stored
        in the first file's footer (no schema-inference job); files
        without one are read with inference."""
        paths = [os.path.join(self.path, f) for f in files]
        try:
            raw = _footer_schema_json(paths[0])
        except (OSError, ValueError):
            raw = None     # a lost file: let Spark report the path
        reader = self.spark.read
        if raw is not None:
            reader = reader.schema(T.StructType.fromJson(json.loads(raw)))
        return reader.parquet(*paths)

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
        read, delete or merge — refuse loudly instead
        (ADVICE r10)."""
        clash = sorted(c for c in cols if c.startswith("_dv_"))
        if clash:
            raise ValueError(
                f"{what}: column name(s) {clash} collide with the "
                f"deletion-vector working columns (_dv_file/_dv_pos/"
                f"_dv_commit are reserved); rename them first")

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
        stale rows for files whose pointer has since moved, and those
        must not leak in."""
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
        probe by position: the merge probe and the delete
        classifier). Every DV-masking consumer routes through
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
        """Zero-row frame with the TABLE schema: every live file
        shares one schema (merges refuse a drifted batch), so any
        single footer suffices. Footer-only cost: limit(0) never
        reads row data."""
        return self._read_files([next(iter(snap.live))]).limit(0)

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
        _, _, cands, hit, _ = self._key_scope(
            keys.select(self.key).distinct(), snap.live)
        self.last_read_probe = {"live_files": len(snap.live),
                                "candidate_files": sorted(cands)}
        if not cands:
            # no file can contain any key: empty frame, table schema
            return self._empty_like(snap)
        return hit(self._read_live(cands, snap.dvs))

    def read(self, as_of: int | None = None) -> DataFrame:
        snap = self._snapshot(as_of)
        if not snap.live:
            raise TableStateError(
                f"TxnTable at {self.path} has no committed data")
        return self._read_live(list(snap.live), snap.dvs)

    def changes(self, v_lo: int, v_hi: int | None = None,
                columns=None) -> DataFrame:
        """Change-data-feed (Delta CDF's ``table_changes`` shape):
        row-level deltas committed in versions ``(v_lo, v_hi]`` —
        applying them to ``read(as_of=v_lo)`` yields
        ``read(as_of=v_hi)``. Pass ``v_lo=-1`` to include the bootstrap
        commit. Returns the table columns plus ``_change_type``
        (insert / update_preimage / update_postimage / delete),
        ``_commit_version``, and ``_commit_timestamp`` (informational
        wall time recorded in the entry; null for entries that
        recorded none — version is the ordering authority).

        ``columns`` projects the feed onto the key plus those columns:
        images are aligned, compared and returned on them only, so the
        scan reads no other column, and the result is exactly the feed
        of ``read(...).select(key, *columns)`` — a commit that changed
        only other columns of a row emits nothing for it. A requested
        column that no image of the range has raises ``ValueError``.

        Derived ENTIRELY from what each commit already recorded: a
        merge rewrites only its touched files, so commit ``v``'s delta
        is the key-level diff of its ``removes`` (pre-image) against
        its ``adds`` (post-image) — survivor rows copied verbatim into
        the rewrite appear identical on both sides and cancel. The
        feed therefore reads O(touched files per commit), never the
        table (``last_changes_probe`` records exactly which files were
        opened, vs the live count). ``compact`` commits reorganize
        bytes without changing rows and emit NOTHING by construction.

        Every commit of the range is diffed in ONE plan (``_diff``).
        Only the rows of a merge's affected keys can differ, so a
        merge entry that recorded its ``keys`` has both images read
        for those keys only; overwrites, deletion-vector commits and
        entries without ``keys`` (larger batches, or written before
        the field existed) are diffed over their whole images.
        Building the feed runs no Spark job for DV-free ranges.

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
        commits: list[tuple] = []
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
                continue               # metadata-only entry
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
                # vacuum unlinks a dir's files before the dir itself
                # ages out, so an emptied dir is collected too
                full = os.path.join(self.path, dd)
                if not (os.path.isdir(full) and any(
                        n.endswith(".parquet") for n in os.listdir(full))):
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
            # attaches to them (RESTORE commits written by earlier
            # versions re-add a file together with its old vector)
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
            # (an earlier version's RESTORE to a pre-delete version)
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
                # (unmasked by a RESTORE -> re-insert). Replaces two
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
            # a merge that recorded its keys: only rows of those keys
            # can differ between its images, so both are read for
            # those keys only
            scope = (_in_sql(self.key, e["keys"])
                     if e.get("keys") is not None else None)
            commits.append((v, e.get("ts_ms"), scope, pre, post))
        self.last_changes_probe = {
            "live_files": len(self._snapshot().live),
            "files_read": sorted(files_read),
            "commits": v_hi - v_lo}
        if not commits:
            snap = self._snapshot()
            if not snap.live:
                # mirror read(): a table with no live data files has
                # no schema to shape even an empty feed with
                raise TableStateError(
                    f"TxnTable at {self.path} has no committed data")
            empty = self._empty_like(snap)
            if columns is not None:
                empty = empty.select(*self._feed_columns(empty.columns,
                                                         columns))
            return (empty
                    .withColumn("_change_type", F.lit(None).cast("string"))
                    .withColumn("_commit_version", F.lit(None).cast("long"))
                    .withColumn("_commit_timestamp",
                                F.lit(None).cast("timestamp")))
        return self._diff(commits, columns)

    def _feed_columns(self, have, columns) -> list[str]:
        """The key plus ``columns``, each once; raises ``ValueError``
        for a requested column not in ``have``."""
        unknown = [c for c in columns if c not in have]
        if unknown:
            raise ValueError(
                f"changes(columns=...): no image of the range has "
                f"column(s) {unknown}")
        return list(dict.fromkeys((self.key, *columns)))

    def _diff(self, commits: list[tuple], columns=None) -> DataFrame:
        """The change rows of ``commits`` — ``(version, ts_ms, scope,
        pre, post)`` with ``pre``/``post`` the commit's pre- and
        post-image (None when it has none) and ``scope`` an optional
        SQL predicate the images are restricted to — as ONE plan.
        Each image is aligned to the key plus every column any image
        has (first seen first; typed nulls where one lacks it), or to
        the key plus ``columns`` when given, and tagged with its
        version; the pre- and post-images of all
        commits are full-outer-joined once on (key, version). Rows
        only in a post-image are inserts, only in a pre-image are
        deletes, on both sides with ANY column differing are update
        pre/post pairs, and identical rows (survivors copied into a
        rewrite) cancel; null keys are never emitted. Expressions are
        SQL text, so building the plan costs a few py4j calls per
        commit instead of several per column."""
        cols: dict = {}
        for _, _, _, pre, post in commits:
            for df in (post, pre):
                if df is not None:
                    for f_ in df.schema.fields:
                        cols.setdefault(f_.name, f_.dataType)
        if columns is not None:
            cols = {c: cols[c] for c in self._feed_columns(cols, columns)}
        cols = {self.key: cols.pop(self.key), **cols}
        key = _quote(self.key)

        def image(df, v, ts_ms, scope):
            have = set(df.columns)
            sel = [(_quote(c) if c in have
                    else f"CAST(NULL AS {t.simpleString()})")
                   + f" AS {_quote(c)}" for c, t in cols.items()]
            ts = (f"timestamp_millis({int(ts_ms)})" if ts_ms is not None
                  else "CAST(NULL AS TIMESTAMP)")
            where = f"{key} IS NOT NULL" + (f" AND {scope}" if scope
                                             else "")
            return df.where(where).selectExpr(
                *sel, f"CAST({int(v)} AS BIGINT) AS _cdf_version",
                f"{ts} AS _cdf_ts")

        def union(frames):
            return functools.reduce(DataFrame.union, frames) \
                if frames else None

        pre = union([image(p, v, ts, q) for v, ts, q, p, _ in commits
                     if p is not None])
        post = union([image(a, v, ts, q) for v, ts, q, _, a in commits
                      if a is not None])
        data = [_quote(c) for c in cols]
        if pre is None or post is None:
            # every commit only inserts (or only deletes)
            side, ctype = ((post, "insert") if pre is None
                           else (pre, "delete"))
            return side.selectExpr(
                *data, f"'{ctype}' AS _change_type",
                "_cdf_version AS _commit_version",
                "_cdf_ts AS _commit_timestamp")

        # struct comparison treats null fields as equal (Spark's
        # interpreted ordering for complex types); map columns are not
        # orderable, so they compare as the JSON of their entry list
        # SORTED BY KEY — raw to_json(map) is insertion-order-
        # sensitive, and equal maps written in different key orders
        # would register as spurious update pairs
        def cmp(side):
            return "struct(" + ", ".join(
                f"to_json(array_sort(map_entries({side}.{_quote(c)})))"
                if isinstance(t, T.MapType) else f"{side}.{_quote(c)}"
                for c, t in cols.items() if c != self.key) + ")"

        changed = f"p.{key} IS NULL OR q.{key} IS NULL"
        if len(cols) > 1:
            changed += f" OR NOT ({cmp('p')} <=> {cmp('q')})"
        all_ts = all(ts is not None for _, ts, *_ in commits)
        j = (pre.alias("p").join(
                post.alias("q"),
                F.expr(f"p.{key} = q.{key} AND "
                       f"p._cdf_version = q._cdf_version"), "full_outer")
             .where(changed)
             .selectExpr(
                 f"explode(CASE WHEN p.{key} IS NULL THEN array('insert') "
                 f"WHEN q.{key} IS NULL THEN array('delete') ELSE "
                 f"array('update_preimage', 'update_postimage') END) "
                 f"AS _change_type",
                 *[f"p.{c} AS _p{i}" for i, c in enumerate(data)],
                 *[f"q.{c} AS _q{i}" for i, c in enumerate(data)],
                 # the trailing literals are never reached (every
                 # joined row has a side); they keep the columns
                 # non-nullable when every image's value is
                 "coalesce(p._cdf_version, q._cdf_version, "
                 "CAST(-1 AS BIGINT)) AS _commit_version",
                 "coalesce(p._cdf_ts, q._cdf_ts"
                 + (", timestamp_millis(0)" if all_ts else "")
                 + ") AS _commit_timestamp"))
        return j.selectExpr(
            *[f"CASE WHEN _change_type IN ('insert', 'update_postimage') "
              f"THEN _q{i} ELSE _p{i} END AS {c}"
              for i, c in enumerate(data)],
            "_change_type", "_commit_version", "_commit_timestamp")

    # ------------------------------------------------------ operations
    @staticmethod
    def _with_retries(attempt_once, retries: int):
        """Optimistic-concurrency retry shared by every write: run
        ``attempt_once()`` up to ``retries + 1`` times, re-planning on
        a ``CommitConflict`` (another writer took the staged version)
        or a lost input file (``_is_lost_file_error``: a vacuum
        collected a planned input past the retention horizon) —
        Delta's commit-conflict-then-rebase loop. Each attempt takes
        its own snapshot, so pruning, the touched-file probe and the
        app_txn_id idempotence check all re-evaluate. ``retries=0``
        keeps the raise-on-conflict contract for single-writer
        callers; a losing attempt's data files are unreferenced
        orphans (vacuum collects them), never corruption."""
        for attempt in range(retries + 1):
            try:
                return attempt_once()
            except Exception as exc:
                if attempt == retries or not (
                        isinstance(exc, CommitConflict)
                        or _is_lost_file_error(exc)):
                    raise

    def overwrite(self, df: DataFrame,
                  app_txn_id: str | None = None,
                  retries: int = 0) -> int:
        """Full-snapshot write: the version 0 bootstrap, or a replace
        of every live file by ``df`` in one atomic commit. An
        ``app_txn_id`` already in the log makes it a no-op."""
        return self._with_retries(
            lambda: self._overwrite_once(df, app_txn_id), retries)

    def _overwrite_once(self, df: DataFrame,
                        app_txn_id: str | None) -> int:
        snap = self._snapshot()
        if app_txn_id is not None and app_txn_id in snap.txn_ids:
            return snap.version
        v = snap.version + 1
        adds = self._write_data(df, v)
        self._commit(v, adds, list(snap.live), "overwrite", app_txn_id,
                     prior_live=snap.live, prior_dvs=snap.dvs)
        return v

    def _prune_candidates(self, live: dict[str, dict | None],
                          affected) -> list[str]:
        """Driver-side file skipping: keep only live files whose
        [min_key, max_key] can contain an affected key. ``affected``
        is either the sorted list of affected keys the caller
        collected (exact containment, strongest pruning) or, above
        _PRUNE_KEY_LIMIT, a pinned one-column DataFrame of them, whose
        [min, max] is tested for range overlap. Files without stats
        are always candidates (never incorrectly skipped)."""
        if isinstance(affected, list):
            if not affected:
                return []
            keys = affected
            bmin, bmax = keys[0], keys[-1]
        else:
            agg = affected.agg(
                F.min(self.key).alias("mn"),
                F.max(self.key).alias("mx")).collect()[0]
            if agg["mn"] is None:
                return []
            bmin, bmax = agg["mn"], agg["mx"]
            keys = None
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
              app_txn_id: str | None = None, retries: int = 0) -> int:
        """Copy-on-write MERGE (``_merge_once``) with the shared
        optimistic-concurrency retry (``_with_retries``): on a
        ``CommitConflict`` or a lost input file the whole merge
        re-runs against the fresh snapshot."""
        return self._with_retries(
            lambda: self._merge_once(changed, deleted_keys, app_txn_id),
            retries)

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
           (an IN filter on the collected keys — or, above
           _IN_KEY_LIMIT, a semi-join — over a scan tagged with
           input_file_name());
        3. rewrite ONLY those files' rows: survivors (rows whose key
           is neither changed nor deleted) + the changed rows
           (minus deletes); untouched files are re-referenced as-is;
        4. changed keys absent from the table insert via the same
           union (they appear in no file, so they survive the
           anti-join unconditionally); a batch that touches no file
           is unioned with a zero-row frame of the table schema
           instead, so a drifted batch refuses either way;
        5. commit {adds: rewritten+inserted files, removes: touched
           files, keys: the collected affected keys} as one atomic
           log entry.

        Returns the committed version (or the current one when
        ``app_txn_id`` was already applied — idempotent replay).
        """
        key = self.key
        self._guard_dv_columns(changed.columns, "merge")
        snap = self._snapshot()
        if app_txn_id is not None and app_txn_id in snap.txn_ids:
            return snap.version
        if deleted_keys is None:
            deleted_keys = changed.select(key).limit(0)
        deleted_keys = deleted_keys.select(key).distinct()

        affected = (changed.select(key)
                    .unionByName(deleted_keys).distinct())
        # ONE collect of the affected keys serves the file pruning, the
        # probe and survivor filters and the entry's ``keys``
        got, keys, candidates, hit, miss = self._key_scope(
            affected, snap.live)
        dv_cands = any(p in snap.dvs for p in candidates)
        if candidates and dv_cands:
            # DV-masked candidates: probe over the LIVE rows only (a
            # file whose every affected row is already masked is not
            # touched). The _dv_file tag from the position join IS
            # the log's literal rel path — no URI decode or
            # cache-empty fallback needed. (_metadata only resolves
            # directly on the scan, so tag before the anti-join.)
            live_rows = self._live_rows_tagged(candidates, snap.dvs)
            hits = {r["_dv_file"]: r["count"] for r in
                    hit(live_rows).groupBy("_dv_file").count().collect()}
            touched = sorted(hits)
        elif candidates:
            tagged = (self._read_files(candidates)
                      .withColumn("_file", F.input_file_name()))
            # file list is bounded by file count (driver-side by
            # design — the same cardinality Delta's log fold holds on
            # the driver)
            hits = {r["_file"]: r["count"] for r in
                    hit(tagged).groupBy("_file").count().collect()}
            if any(not u for u in hits):
                # input_file_name() came back EMPTY: a caller has the
                # same files CACHED (Spark's cache manager matches the
                # probe scan by canonical plan and serves rows from the
                # in-memory relation, which has no file context).
                # Correctness must not depend on caller cache state —
                # degrade to rewriting every candidate (a superset of
                # touched; still stat-pruned, just less tightly).
                touched = sorted(candidates)
                hits = {}
            else:
                touched = sorted(
                    os.path.relpath(_decode_uri(u), self.path)
                    for u in hits)
        else:
            touched, hits = [], {}     # first merge == pure insert
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
            survivors = miss(self._read_live(touched, snap.dvs))
            # a batch whose columns differ from the table's fails
            # loudly here
            new_rows = survivors.unionByName(upserts)
        elif snap.live:
            # nothing touched (every key is new): the same schema
            # contract against a zero-row table-schema frame, so a
            # drifted batch refuses before anything is written
            new_rows = self._empty_like(snap).unionByName(upserts)
        else:
            new_rows = upserts
        # upper bound on the rewrite's rows: the touched files' live
        # rows the probe did not hit (the survivors) plus one row per
        # affected key
        touched_rows = [(snap.live.get(p) or {}).get("rows")
                        for p in touched]
        rows_hint = None
        if got is not None and all(isinstance(r, int)
                                   for r in touched_rows):
            rows_hint = (sum(touched_rows) + len(got) - sum(hits.values())
                         - sum(snap.dvs.get(p, {}).get("card", 0)
                               for p in touched))
        # rewrite is read-from-committed-files, write-to-new-dir: no
        # read-own-input hazard, so no checkpoint needed
        v = snap.version + 1
        adds = self._write_data(new_rows, v, rows_hint)
        self._commit(v, adds, touched, "merge", app_txn_id,
                     extra=None if keys is None else {"keys": keys},
                     prior_live=snap.live, prior_dvs=snap.dvs)
        return v

    def _key_scope(self, keys_df: DataFrame, live: dict[str, dict | None]):
        """ONE bounded collect of the distinct one-column ``keys_df``
        serves the file pruning and the row filters. Returns ``(got,
        keys, candidates, hit, miss)``: the collected keys (None above
        _PRUNE_KEY_LIMIT); the sorted non-null keys when the filters
        are a SQL ``IN`` predicate on them (at most _IN_KEY_LIMIT
        string or integer keys), else None; the live files that can
        hold a key; and ``hit``/``miss``, which keep a frame's rows
        whose key is / is not among them. Without the IN predicate
        ``keys_df`` is pinned and the filters are semi/anti joins."""
        key = self.key
        got = [r[0] for r in keys_df.limit(_PRUNE_KEY_LIMIT + 1).collect()]
        if len(got) > _PRUNE_KEY_LIMIT:
            got = None
        keys = (sorted(k for k in got if k is not None)
                if got is not None else None)
        in_sql = (_in_sql(key, keys)
                  if keys is not None and len(keys) <= _IN_KEY_LIMIT
                  else None)
        if in_sql is None:
            keys_df = keys_df.localCheckpoint()
            candidates = self._prune_candidates(
                live, keys_df if keys is None else keys)
            return (got, None, candidates,
                    lambda df: df.join(keys_df, key, "left_semi"),
                    lambda df: df.join(keys_df, key, "left_anti"))
        cond = F.expr(in_sql)
        return (got, keys, self._prune_candidates(live, keys),
                lambda df: df.where(cond),
                # the anti-join keeps null keys; NOT IN alone would not
                lambda df: df.where(~cond | F.col(key).isNull()))

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

        - ``keys``: DataFrame of key values — stat-pruned like a
          merge (files that cannot hold an affected key are never
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
        return self._with_retries(
            lambda: self._delete_once(keys, where, app_txn_id), retries)

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
        if not snap.live:
            raise TableStateError(
                f"TxnTable at {self.path} has no committed data")
        if keys is not None:
            _, _, candidates, hit, _ = self._key_scope(
                keys.select(key).distinct(), snap.live)
        else:
            candidates = self._prune_where_candidates(snap, where)
        self.last_delete_probe = {
            "live_files": len(snap.live),
            "candidate_files": sorted(candidates)}
        if not candidates:
            return snap.version
        live_rows = self._live_rows_tagged(candidates, snap.dvs)
        if keys is not None:
            matched = hit(live_rows)
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
        self._commit(v, [], dead, "delete", app_txn_id,
                     extra=extra or None,
                     prior_live=snap.live, prior_dvs=snap.dvs)
        return v

    def _mask_commit_parts(self, matched: DataFrame,
                           snap: Snapshot, v: int) -> tuple[list, dict]:
        """Masking step of the DV delete: classify the matched LIVE
        positions (``matched`` must already exclude previously-masked
        ones) into fully-dead files (every remaining row died —
        dropped outright) and files getting a new cumulative vector;
        writes the vector parquet and returns (dead_files, commit
        extra with dvs/dv_prior)."""
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
        return dead, extra

    def compact(self, small_rows_threshold: int | None = None,
                retries: int = 0, purge_dvs: bool = False) -> int:
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

        ``retries``: the shared ``_with_retries`` policy — on a
        CommitConflict (a concurrent writer landed a commit between
        this compact's snapshot and its CAS) the WHOLE compact re-runs
        against the fresh snapshot, so the small-file set re-evaluates
        and a file a racing merge just rewrote is never doubly
        referenced or stale-referenced (a multi-writer table's
        auto-compact must not fail a streaming epoch).
        """
        return self._with_retries(
            lambda: self._compact_once(small_rows_threshold, purge_dvs),
            retries)

    def _compact_once(self, small_rows_threshold: int | None = None,
                      purge_dvs: bool = False) -> int:
        thr = (self.rows_per_file // 2 if small_rows_threshold is None
               else small_rows_threshold)
        snap = self._snapshot()

        def _masked(p) -> int:
            return snap.dvs.get(p, {}).get("card", 0)

        # "small" by EFFECTIVE rows (stats count minus DV-masked), so a
        # file whittled down by DV deletes qualifies for bin-packing;
        # additionally any file with >= 20% of its rows masked is
        # rewritten outright — compact is the DV MATERIALIZER (Delta's
        # REORG/purge), the pressure valve that keeps the read path's
        # broadcast of masked positions bounded. purge_dvs forces
        # EVERY masked file in.
        small = [p for p, s in snap.live.items()
                 if (not s or s.get("rows") is None
                     or s["rows"] - _masked(p) <= thr
                     or (_masked(p) > 0 and _masked(p) * 5 >= s["rows"])
                     or (purge_dvs and _masked(p) > 0))]
        # GLOBAL masked-cardinality trigger (VERDICT r10 #2): the
        # per-file 20% rule never fires on a table of MANY files each
        # lightly masked, yet their SUM is what a scan must hold. When
        # the table's total unpurged cardinality exceeds the read
        # budget, pull in the most-masked files (descending) until the
        # remainder sits at half the budget (hysteresis — the next
        # trickle of deletes does not immediately re-trigger).
        total_card = sum(_masked(p) for p in snap.live)
        if total_card > self.dv_broadcast_budget:
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
        if self.key in df.columns:
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
                     prior_live=snap.live, prior_dvs=snap.dvs)
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
            # the dir's age is read BEFORE its files go: each unlink
            # below sets the dir's mtime to now
            try:
                dir_mtime = os.path.getmtime(root)
            except OSError:
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
            if root != data_root and dir_mtime <= cutoff \
                    and not os.listdir(root):
                # the SAME age guard as files: a freshly-created empty
                # directory is a concurrent writer's commit dir or
                # staging dir that hasn't received its first file yet —
                # rmdir'ing it would crash that writer's tasks (found by
                # the concurrent-maintenance race test)
                try:
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


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@functools.lru_cache(maxsize=4096)
def _footer_schema_json(path: str) -> str | None:
    """The Spark schema (JSON) a Spark writer stored in the footer of
    the parquet file at ``path``, or None for files written by other
    writers. Data files are immutable, so the answer is memoized per
    path; a missing file raises (and is not memoized)."""
    import pyarrow.parquet as pq
    raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return raw.decode("utf-8") if raw else None


def _stat_decoder(dtype, column):
    """A function mapping a footer statistic's raw (physical) value to
    the Python value a Spark ``collect()`` of that column returns, or
    None where the footer value cannot be trusted to equal Spark's
    aggregate: floats (NaN and -0.0 ordering), INT96 and nanosecond
    timestamps, decimals, binary and nested types."""
    phys = column.physical_type
    if isinstance(dtype, T.StringType) and phys == "BYTE_ARRAY":
        return lambda b: b.decode("utf-8")
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType,
                          T.ByteType)) and phys in ("INT32", "INT64"):
        return int
    if isinstance(dtype, T.DateType) and phys == "INT32":
        return dtype.fromInternal
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)) \
            and phys == "INT64":
        unit = json.loads(column.logical_type.to_json()).get("timeUnit")
        scale = {"microseconds": 1, "milliseconds": 1000}.get(unit)
        if scale is not None:
            return lambda v: dtype.fromInternal(v * scale)
    return None


def _footer_stats(path: str, cols: list[str]) -> tuple[int, dict]:
    """Row count and per-column (min, max) of the Spark-written parquet
    file at ``path``, from its footer: the fold over row groups of
    each column chunk's statistics, in the values a Spark ``min``/
    ``max`` aggregate of the file would collect. All-null row groups
    contribute nothing (an all-null column folds to (None, None), as
    the aggregate does); a column with a non-null row group lacking
    min/max, or of a type ``_stat_decoder`` refuses, folds to (None,
    None)."""
    import pyarrow.parquet as pq
    md = pq.read_metadata(path)
    raw = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    types = ({f.name: f.dataType for f in
              T.StructType.fromJson(json.loads(raw)).fields}
             if raw else {})
    index = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out = {}
    for c in cols:
        i = index.get(c)
        dec = (_stat_decoder(types[c], md.schema.column(i))
               if i is not None and c in types else None)
        mn = mx = None
        for g in range(md.num_row_groups if dec else 0):
            rg = md.row_group(g)
            st = rg.column(i).statistics
            if st is not None and not st.has_min_max and \
                    st.has_null_count and st.null_count == rg.num_rows:
                continue                       # all-null row group
            if st is None or not st.has_min_max:
                mn = mx = None
                break
            lo, hi = dec(st.min_raw), dec(st.max_raw)
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        out[c] = (mn, mx)
    return md.num_rows, out


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _in_sql(col: str, keys: list) -> str | None:
    """``col IN (<keys>)`` as SQL text (one py4j call to parse, instead
    of one literal Column per key); None when a key is neither a
    string nor an integer. An empty key list matches nothing."""
    lits = []
    for k in keys:
        if isinstance(k, str):
            lits.append("'" + k.replace("\\", "\\\\")
                        .replace("'", "\\'") + "'")
        elif isinstance(k, int) and not isinstance(k, bool):
            lits.append(str(k))
        else:
            return None
    if not lits:
        return "FALSE"
    return f"{_quote(col)} IN ({', '.join(lits)})"


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
