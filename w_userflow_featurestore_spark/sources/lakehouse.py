"""LogTable: a transactional table format on parquet (mini-lakehouse).

The reference runs every table on Iceberg and leans on four format
capabilities the plain-parquet fallback can only emulate:

- snapshot lineage (``snapshots`` metadata table with ``parent_id``
  chains, walked by the Airflow ancestry check —
  reference airflow/dags/silver_dag.py:65-88, :102-107)
- snapshot-range incremental reads (``start-snapshot-id`` /
  ``end-snapshot-id`` scan options —
  reference src/spark/silver/silver_user_session_events.py:67-76)
- transactional MERGE INTO (copy-on-write of matched files —
  reference silver_user_session_events.py:146-186)
- dynamic partition overwrite as an atomic commit
  (reference src/spark/gold/*_metrics.py ``overwritePartitions()``)

No Iceberg/Delta runtime ships in this environment, so this module
implements the format itself — the same public protocol shape those
formats use (an append-only commit log of add/remove file actions;
Delta's ``_delta_log`` and Iceberg's snapshot+manifest model are both
published designs): data lives in immutable parquet files, table STATE
is the file set reachable from a commit-log snapshot, and every write
is an atomic commit of ``add``/``remove`` actions. Readers pin a
snapshot's exact file list, so concurrent writers never tear a scan,
history stays time-travelable, and an increment between two snapshots
is well-defined — for real, not by directory-diff heuristics.

Scale notes: the log is driver-side control plane — O(files) JSON, the
same metadata-scaling regime as Delta's JSON log before checkpointing.
The DATA path stays fully distributed: reads hand Spark the pinned
file list (partition pruning + predicate pushdown intact via
Hive-style partition dirs under one ``basePath``), and MERGE rewrites
only the files that actually contain matched keys (file-granular
copy-on-write, strictly finer than the parquet fallback's
partition-granular rewrite).

Commit protocol: a commit is ONE file ``_txn_log/<seq>.json``.
Concurrent committers race on the same sequence number and exactly one
wins (optimistic concurrency, as in Delta). The body is written to a
private ``<seq>.json.<uuid>.tmp``, flushed and fsynced, then published
with one ``os.link`` onto the sequence name: the link fails with
EEXIST for the loser, and a reader can never open a half-written
commit. On filesystems without hard links (some NFS, FUSE and
object-store mounts) the publish falls back to ``O_CREAT|O_EXCL`` +
write + fsync; the race still has one winner, but a reader may see the
name before its body. A crashed writer leaves only orphaned staging
files and ``*.tmp`` files, never a partial commit; ``vacuum`` reclaims
both.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import errno
import json
import math as _math
import os
import re as _re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["LogTable", "BrokenLineageError", "ConcurrentCommitError",
           "Snapshot"]

_LOG_DIR = "_txn_log"
_DATA_DIR = "data"
# errnos with which os.link reports that the filesystem cannot hard-link
# (several FUSE/network filesystems say ENOSYS, not EOPNOTSUPP)
_LINK_UNSUPPORTED = frozenset(
    getattr(errno, name) for name in
    ("EPERM", "EACCES", "ENOTSUP", "EOPNOTSUPP", "EMLINK", "ENOSYS")
    if hasattr(errno, name))


def _publish(target: str, body: dict) -> None:
    """Create ``target`` holding ``body`` as JSON, or raise
    FileExistsError if the name is taken — the commit's exclusive
    create. The body is durable in a private tmp file before one
    ``os.link`` publishes it, so readers see the whole body or no
    file. Where hard links are unsupported, ``O_CREAT|O_EXCL`` + write
    + fsync keeps the exclusive create; a failed write there retracts
    the published name, which would otherwise poison every read."""
    tmp = f"{target}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(body, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, target)
        except OSError as exc:
            if exc.errno not in _LINK_UNSUPPORTED:
                raise
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                with os.fdopen(fd, "w") as fh:
                    json.dump(body, fh)
                    fh.flush()
                    os.fsync(fh.fileno())
            except BaseException:
                try:
                    os.unlink(target)
                except OSError:
                    pass
                raise
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def _stat_value(v):
    """Normalize a parquet-footer statistic into a JSON-storable,
    order-preserving value; None = type we refuse to prune on.

    date/datetime normalize to ISO strings (fixed-prefix format, so
    lexicographic order == chronological order even when the
    fractional-seconds part is absent); Decimal and raw binary are
    skipped — float-rounding a Decimal could prune a file that
    actually matches, and pruning must never be unsound.

    Timestamp convention: tz-AWARE datetimes (parquet TIMESTAMP is
    adjusted-to-UTC, so pyarrow footer stats arrive aware) convert to
    UTC before the offset is dropped — stored stats are UTC
    wall-clock. Naive filter literals compare directly against them
    because the engine PINS ``spark.sql.session.timeZone=UTC``
    (conf.py): Spark interprets a naive literal as session-local =
    UTC, the same wall-clock. A deployment that overrides the session
    timezone must convert its filter literals to UTC (or pass aware
    datetimes, which are converted here)."""
    if isinstance(v, bool) or v is None:
        return None                      # bool min/max carries no signal
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc)
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _filter_value(v):
    """Normalize a user filter operand the same way as the stats."""
    return _stat_value(v)


def _comparable(a, b) -> bool:
    num = (int, float)
    return (isinstance(a, num) and isinstance(b, num)) or \
           (isinstance(a, str) and isinstance(b, str))


_DATE_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}$")
_DATETIME_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:")


def _parse_dir_temporal(pv: str) -> _dt.datetime | None:
    """A partition-dir string as a naive-UTC datetime, when it parses
    as ISO date or timestamp (Spark writes both shapes as ISO text,
    timestamps with the fractional part trailing-zero-trimmed —
    '.123', not '.123000' — which is why string equality is the wrong
    comparison and a PARSED compare is used). A date-only dir value
    parses to midnight — exactly Spark's DATE->TIMESTAMP coercion, so
    the date-vs-datetime shape mismatch the stats path needed
    ``_align_date_shape`` for is handled here by construction. An
    offset-bearing value (not a shape Spark's dir writer emits, but a
    STRING partition column may hold one) converts to UTC wall-clock —
    the same convention ``_stat_value`` documents."""
    try:
        d = _dt.datetime.fromisoformat(pv)
    except ValueError:
        return None
    if d.tzinfo is not None:
        d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return d


def _part_matches(pv: str | None, val) -> bool:
    """Does a Hive partition-dir STRING value match a filter literal
    under Spark's own dir formatting and coercion? Spark writes
    booleans as true/false (str(True) is 'True' — comparing that
    wrongly pruned every file), dates/timestamps as ISO text, doubles
    as '1.0'/'1.0E300'/'Infinity'/'NaN' (an int literal 1 must still
    match '1.0'), and decimals at FULL declared scale ('1.500' for a
    decimal(9,3) literal 1.5 — str(Decimal) compare wrongly pruned
    every file). Temporals compare PARSED, not as strings: a tz-aware
    literal normalizes to UTC wall-clock (isoformat would embed
    '+00:00' and never match), a date literal against a
    timestamp-partitioned dir (and vice versa) compares at midnight —
    Spark's own DATE<->TIMESTAMP coercion — and trailing-zero-trimmed
    fractional seconds compare equal regardless of rendering. NaN
    matches NaN because Spark SQL defines NaN = NaN as TRUE (IEEE
    would say false; pruning on IEEE semantics would silently drop
    every NaN row). Falls back to the raw string only for
    genuinely-string partition values."""
    if val is None:
        return pv is None
    if pv is None:
        return False
    if isinstance(val, bool):
        return pv == ("true" if val else "false")
    if isinstance(val, _dt.datetime):
        if val.tzinfo is not None:
            val = val.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        parsed = _parse_dir_temporal(pv)
        if parsed is not None:
            return parsed == val
        return pv == val.isoformat(sep=" ")
    if isinstance(val, _dt.date):
        parsed = _parse_dir_temporal(pv)
        if parsed is not None:
            return parsed == _dt.datetime(val.year, val.month, val.day)
        return pv == val.isoformat()
    if isinstance(val, _decimal.Decimal):
        try:
            return _decimal.Decimal(pv) == val
        except _decimal.InvalidOperation:
            return False
    if isinstance(val, (int, float)):
        try:
            fpv, fv = float(pv), float(val)
        except (ValueError, OverflowError):
            return False
        if _math.isnan(fv) or _math.isnan(fpv):
            return _math.isnan(fv) and _math.isnan(fpv)
        return fpv == fv
    return pv == str(val)


def _align_date_shape(a: str, b: str) -> str:
    """Pad a date-only ISO string to midnight when compared against a
    datetime-shaped string: Spark coerces a DATE column in a timestamp
    comparison to timestamp-at-midnight, so a date stat '2024-01-01'
    against a filter literal '2024-01-01 00:00:00' must compare EQUAL,
    not lexicographically-less (which wrongly pruned matching files).
    For genuine string columns the padding can only LOSE pruning
    (midnight-padded bounds are looser), never prune a matching file —
    the sound direction."""
    if _DATE_RE.match(a) and _DATETIME_RE.match(b):
        return a + " 00:00:00"
    return a


def _stats_exclude(col_stats, op: str, val) -> bool:
    """True iff the per-file stats PROVE no row of the file satisfies
    ``col op val``. ``col_stats`` is ``[min, max]`` or the extended
    ``[min, max, null_count, num_rows]`` form (readers accept both —
    stats written before null counts existed simply never prune null
    predicates). Parquet min/max ignore NULLs, and every supported
    comparison is already false for NULL under SQL semantics, so
    null-heavy files stay prunable without a null count."""
    if col_stats is None:
        return False
    lo, hi = col_stats[0], col_stats[1]
    if op == "isnull":
        # a file with zero nulls cannot satisfy IS NULL
        return len(col_stats) >= 4 and col_stats[2] == 0
    if op == "notnull":
        # a file that is ALL nulls cannot satisfy IS NOT NULL
        return (len(col_stats) >= 4 and col_stats[2] is not None
                and col_stats[3] is not None
                and col_stats[2] == col_stats[3])
    if val is None or lo is None or hi is None:
        return False
    if isinstance(lo, str) and isinstance(val, str):
        # date-vs-datetime shape coercion (Spark compares a DATE column
        # to a timestamp literal at midnight — align before comparing)
        lo, hi = _align_date_shape(lo, val), _align_date_shape(hi, val)
        val = _align_date_shape(val, lo)
    if op == "in":
        def _excludes_member(x) -> bool:
            if x is None or not _comparable(lo, x):
                return False
            l, h = lo, hi
            if isinstance(l, str) and isinstance(x, str):
                l, h = _align_date_shape(l, x), _align_date_shape(h, x)
                x = _align_date_shape(x, l)
            return x < l or x > h
        return all(_excludes_member(x) for x in val)
    if not (_comparable(lo, val) and _comparable(hi, val)):
        return False
    if op in ("=", "=="):
        return val < lo or val > hi
    if op == ">":
        return hi <= val
    if op == ">=":
        return hi < val
    if op == "<":
        return lo >= val
    if op == "<=":
        return lo > val
    return False


class BrokenLineageError(RuntimeError):
    """The requested snapshot range is not a clean append lineage —
    the caller must fall back to a full read (the reference's
    broken-ancestry fallback, silver_dag.py:119-122)."""


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between this operation's read of table
    state and its commit attempt. The operation's staged result may be
    based on stale files — re-run the operation (it will recompute from
    the new current snapshot). Appends never raise this: they carry no
    read-dependency, so the loser just takes the next sequence number."""


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    committed_at_ms: int
    operation: str   # append | overwrite_partitions | merge | replace | rollback
    add: tuple[str, ...]        # file paths relative to <table>/data
    remove: tuple[str, ...]
    txn: str | None = None      # idempotence token (streaming exactly-once)
    # per added file: {rel_path: {col: [min, max]}} harvested from the
    # parquet footers at commit time (Iceberg's manifest column stats)
    stats: dict = field(default_factory=dict)


class LogTable:
    """One transaction-log table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log_path = os.path.join(path, _LOG_DIR)
        self._data_path = os.path.join(path, _DATA_DIR)

    # ---------------------------------------------------------------- log

    def write_manifest(self, snapshot_id: int | None = None) -> str:
        """Export a snapshot's live file set as a plain-text manifest —
        one ABSOLUTE parquet path per line — under ``_manifests/``.

        This is the symlink-manifest interop pattern (Delta's
        ``symlink_format_manifest`` generator; the role Iceberg's
        manifest lists play for the reference's Trino catalog,
        trino/etc/catalog/iceberg.properties:1-7): any engine that can
        scan an explicit parquet file list — DuckDB
        ``read_parquet([...], hive_partitioning=true)``, Trino/Hive
        ``SymlinkTextInputFormat`` tables, Spark itself — reads the
        snapshot WITHOUT this library. Partition values stay readable
        because the data files live in Hive-style ``col=value`` dirs.
        A snapshot's live set never changes and data files are
        immutable, so the manifest is immutable and regeneration is
        idempotent (atomic tmp+rename either way)."""
        if snapshot_id is None:
            snapshot_id = self.latest_snapshot_id()
        if snapshot_id is None:
            raise ValueError("empty table has no snapshot to export")
        mdir = os.path.join(self.path, "_manifests")
        os.makedirs(mdir, exist_ok=True)
        dest = os.path.join(mdir, f"{snapshot_id:020d}.txt")
        data_abs = os.path.abspath(self._data_path)
        tmp = dest + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            for rel in self.files(snapshot_id):
                fh.write(os.path.join(data_abs, rel) + "\n")
        os.replace(tmp, dest)
        return dest

    @staticmethod
    def is_log_table(path: str) -> bool:
        return os.path.isdir(os.path.join(path, _LOG_DIR))

    @classmethod
    def create(cls, spark: SparkSession, path: str,
               partition_by: list[str] | None = None,
               stats_columns: list[str] | None = None) -> "LogTable":
        """Idempotent create (reference S8 CREATE TABLE IF NOT EXISTS).

        ``stats_columns``: columns whose per-file min/max get recorded
        in each commit manifest for file skipping — the manifest-level
        column statistics Iceberg keeps for the reference's tables
        (bronze_load_raw_data.py:62 relies on them for its
        days(datetime) pruning). Stats are harvested from the parquet
        FOOTERS the write already produced (driver-side, O(files),
        zero data scan), so the cost regime matches the JSON log
        itself."""
        t = cls(spark, path)
        os.makedirs(t._log_path, exist_ok=True)
        os.makedirs(t._data_path, exist_ok=True)
        meta = os.path.join(t._log_path, "_meta.json")
        if not os.path.exists(meta):
            tmp = meta + f".{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as fh:
                json.dump({"partition_by": partition_by or [],
                           "stats_columns": stats_columns or []}, fh)
            os.replace(tmp, meta)
        return t

    @property
    def _meta(self) -> dict:
        with open(os.path.join(self._log_path, "_meta.json")) as fh:
            return json.load(fh)

    @property
    def partition_by(self) -> list[str]:
        return self._meta["partition_by"]

    @property
    def stats_columns(self) -> list[str]:
        return self._meta.get("stats_columns", [])

    @property
    def partition_types(self) -> dict:
        """{partition col: Spark type DDL}, stamped at first write."""
        return self._meta.get("partition_types") or {}

    def _stamp_partition_types(self, df: DataFrame) -> None:
        """Record the writer's partition column TYPES in _meta, once.

        Hive-style dirs store partition values as untyped strings, and
        Spark's dir-string type inference is file-list-DEPENDENT: a
        fractional-seconds timestamp dir value defeats timestamp
        inference entirely (the column reads back as STRING), an
        all-numeric string partition reads back as DOUBLE — so two
        reads of the same table could disagree on a partition column's
        TYPE (and silently mangle its VALUES, '0001' -> 1.0) depending
        on which files survived pruning. Iceberg solves this with
        typed partition fields in the table spec; this is that,
        stamped from the first writer's schema. Atomic tmp+replace;
        concurrent first writes of a consistently-typed table carry
        identical types, so last-wins is benign."""
        meta = self._meta
        if meta.get("partition_types"):
            return
        parts = set(meta["partition_by"])
        types = {f.name: f.dataType.simpleString()
                 for f in df.schema.fields if f.name in parts}
        if not types:
            return
        meta["partition_types"] = types
        target = os.path.join(self._log_path, "_meta.json")
        tmp = f"{target}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, target)

    def snapshots(self) -> list[Snapshot]:
        """All commits in log order (the ``snapshots`` metadata table,
        reference silver_dag.py:102-107).

        Concurrent ``expire_snapshots`` race: entries deleted between
        the listdir and the reads raise FileNotFoundError. Merely
        skipping them is NOT enough for whole-list consumers — a
        reader that consumed a pre-expire entry BEFORE its deletion
        and then skipped a later one would return a list mixing that
        stale entry (whose parent chain no longer exists) with the
        post-expire checkpoint. So any swallowed FileNotFoundError
        triggers a full re-list: expire deletes the old prefix and the
        reader scans in sorted order, so every torn interleaving
        surfaces as at least one FileNotFoundError on a not-yet-read
        entry, and by the retry the deletions are all visible —
        the second pass reads a consistent log. (Bounded retries:
        expire is a maintenance call, not a loop; three CONSECUTIVE
        racing expires is not a state this engine produces, and the
        final pass still returns a usable post-expire listing.)"""
        out: list[Snapshot] = []
        for _attempt in range(3):
            out = []
            lost_race = False
            for f in sorted(os.listdir(self._log_path)):
                if not f.endswith(".json") or f.startswith("_"):
                    continue
                try:
                    with open(os.path.join(self._log_path, f)) as fh:
                        d = json.load(fh)
                except FileNotFoundError:
                    lost_race = True
                    continue
                out.append(Snapshot(d["snapshot_id"], d["parent_id"],
                                    d["committed_at_ms"], d["operation"],
                                    tuple(d["add"]), tuple(d["remove"]),
                                    d.get("txn"), d.get("stats") or {}))
            if not lost_race:
                break
        return out

    def snapshots_df(self) -> DataFrame:
        """Snapshot metadata as a DataFrame — the queryable form of the
        reference's ``SELECT ... FROM tbl.snapshots``."""
        rows = [(s.snapshot_id, s.parent_id, s.committed_at_ms,
                 s.operation, len(s.add), len(s.remove))
                for s in self.snapshots()]
        return self.spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, committed_at_ms long,"
                  " operation string, n_added_files long, n_removed_files long")

    def latest_snapshot_id(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1].snapshot_id if snaps else None

    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Live data files at a snapshot as a DataFrame — the queryable
        twin of Iceberg's ``tbl.files`` metadata table (the reference
        inspects table internals through exactly such metadata tables,
        silver_dag.py:102-107): relative path, on-disk size, Hive
        partition values decoded from the dir segments, and the
        manifest min/max column stats as JSON. Driver-side O(files)
        like every metadata read — never a data scan."""
        parts = self.partition_by
        rows = []
        stats = self.files_stats(snapshot_id)
        for rel in self.files(snapshot_id):
            p = os.path.join(self._data_path, rel)
            try:
                size = os.path.getsize(p)
            except OSError:
                size = None
            # one dir-decoding code path with the prune layer — a fix
            # to partition parsing must not have to land twice
            pvals = self._partition_values(rel)
            part = {c: pvals.get(c) for c in parts}
            rows.append((rel, size, part, json.dumps(stats.get(rel, {}),
                                                     sort_keys=True)))
        return self.spark.createDataFrame(
            rows, "file_path string, size_bytes long,"
                  " partition map<string,string>, stats_json string")

    _UNSET = object()

    def _collect_stats(self, rel_files: list[str]) -> dict:
        """Per-file [min, max] for the table's ``stats_columns``, read
        from the parquet footers (no data pages touched). A column with
        unusable footer stats (missing, all-null, or a type we refuse
        to order-compare) is simply absent — readers treat absence as
        "cannot prune", never as "empty"."""
        cols = self.stats_columns
        if not cols:
            return {}
        try:
            import pyarrow.parquet as pq
        except ImportError:          # stats are an optimization only
            return {}
        out: dict = {}
        for rel in rel_files:
            md = pq.ParquetFile(
                os.path.join(self._data_path, rel)).metadata
            idx = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            fstats: dict = {}
            for col in cols:
                if col not in idx:
                    continue             # partition col (in dir) or absent
                lo = hi = None
                ok = True
                nulls, nrows, nulls_ok = 0, 0, True
                for rg in range(md.num_row_groups):
                    rg_meta = md.row_group(rg)
                    nrows += rg_meta.num_rows
                    try:
                        st = rg_meta.column(idx[col]).statistics
                    except Exception:  # noqa: BLE001
                        # pyarrow raises ArrowNotImplementedError for
                        # types it cannot extract stats for (e.g.
                        # BOOLEAN footers from some writers) — a
                        # stats_column of such a type must degrade to
                        # "no stats for this file" (pruning is an
                        # optimization), never crash the COMMIT that
                        # harvests it (round-12 randomized pruning
                        # harness caught an append dying here)
                        st = None
                    if st is None:
                        ok = nulls_ok = False
                        break
                    # null counts are harvested INDEPENDENTLY of min/max
                    # usability: an all-null column has no min/max but
                    # its null count is exactly what IS NOT NULL pruning
                    # needs
                    if st.has_null_count:
                        nulls += st.null_count
                    else:
                        nulls_ok = False
                    if not ok:
                        continue
                    if not st.has_min_max:
                        ok = False
                        continue
                    try:
                        mn, mx = _stat_value(st.min), _stat_value(st.max)
                    except Exception:  # noqa: BLE001
                        # pyarrow raises ArrowNotImplementedError on
                        # the .min/.max ACCESSORS for types it cannot
                        # cast statistics for — same degrade rule:
                        # skip the column's stats, never crash the
                        # commit (round-12 randomized pruning harness)
                        ok = False
                        continue
                    if mn is None or mx is None:
                        ok = False
                        continue
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
                if not (ok and lo is not None):
                    lo = hi = None
                if nulls_ok:
                    fstats[col] = [lo, hi, nulls, nrows]
                elif lo is not None:
                    fstats[col] = [lo, hi]
            if fstats:
                out[rel] = fstats
        return out

    def _commit(self, operation: str, add: list[str],
                remove: list[str], parent_id: int | None = None,
                txn: str | None = None, expected_base=_UNSET,
                _retries: int = 20) -> int:
        """Atomically append one commit; the exclusive publish
        (:func:`_publish`) means two racing writers of the same sequence
        number cannot both win.

        Optimistic concurrency (Delta's conflict rules, simplified):
        an APPEND has no read-dependency, so losing a race just means
        taking the next sequence number — it retries. A REWRITE
        operation (merge / overwrite / replace / rollback) passes the
        snapshot id its staged output was DERIVED from as
        ``expected_base``; if the table has moved past that snapshot —
        detected either by the pre-write check or by losing the publish
        race — the staged files reflect stale state and the commit
        raises :class:`ConcurrentCommitError` so the caller re-runs the
        operation against the new current snapshot."""
        validate_base = expected_base is not LogTable._UNSET
        stats = self._collect_stats(add)
        for _ in range(_retries):
            snaps = self.snapshots()
            if txn is not None:
                # re-check idempotence after losing a race: the winner
                # may have been a replay of this very transaction. Walk
                # the live parent chain only — the same rule append()'s
                # pre-check uses — so a txn stranded on a dead rollback
                # fork is consistently RE-APPLIED by both code paths
                # rather than deduped here and replayed there.
                by_id = {s.snapshot_id: s for s in snaps}
                cur = snaps[-1].snapshot_id if snaps else None
                while cur is not None:
                    s = by_id.get(cur)
                    if s is None:          # broken lineage: stop the walk
                        break
                    if s.txn == txn:
                        return s.snapshot_id
                    cur = s.parent_id
            latest = snaps[-1].snapshot_id if snaps else None
            if validate_base and latest != expected_base:
                raise ConcurrentCommitError(
                    f"{operation} was staged against snapshot "
                    f"{expected_base} but the table is now at {latest} "
                    f"— re-run the operation")
            seq = (latest + 1) if snaps else 1
            pid = parent_id if parent_id is not None else latest
            body = {"snapshot_id": seq, "parent_id": pid,
                    "committed_at_ms": int(time.time() * 1000),
                    "operation": operation, "add": sorted(add),
                    "remove": sorted(remove), "txn": txn,
                    "stats": stats}
            target = os.path.join(self._log_path, f"{seq:020d}.json")
            try:
                _publish(target, body)
                return seq
            except FileExistsError:
                if validate_base:
                    raise ConcurrentCommitError(
                        f"{operation} lost the commit race for snapshot "
                        f"{seq}; its input state is stale — re-run the "
                        f"operation") from None
                continue                        # append: take the next seq
        raise ConcurrentCommitError(
            f"append could not win a sequence number after {_retries} "
            f"attempts")

    # ----------------------------------------------------------- lineage

    def _chain(self, snapshot_id: int) -> list[Snapshot]:
        """Root -> snapshot along ``parent_id`` pointers (NOT log order:
        a rollback re-parents, and commits after the fork are not part
        of the rolled-back timeline)."""
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        if snapshot_id not in by_id:
            raise BrokenLineageError(f"unknown snapshot {snapshot_id}")
        chain: list[Snapshot] = []
        cur: int | None = snapshot_id
        while cur is not None:
            s = by_id.get(cur)
            if s is None:
                # an ancestor is gone (expired history): the walked
                # snapshot's file set is NOT reconstructible — raising
                # beats silently returning a partial chain (a dead-fork
                # read would otherwise yield incomplete data). The live
                # chain never hits this: expire rewrites its oldest
                # kept commit as a parentless checkpoint.
                raise BrokenLineageError(
                    f"snapshot {cur} (ancestor of {snapshot_id}) has "
                    f"been expired; the requested state is not "
                    f"reconstructible")
            chain.append(s)
            cur = s.parent_id
        return list(reversed(chain))

    def is_ancestor(self, ancestor_id: int, descendant_id: int) -> bool:
        """Walk the parent chain — the reference's
        ``is_ancestor_snapshot`` (silver_dag.py:65-88)."""
        try:
            return any(s.snapshot_id == ancestor_id
                       for s in self._chain(descendant_id))
        except BrokenLineageError:
            return False

    def files(self, snapshot_id: int | None = None) -> list[str]:
        """Live data files (relative paths) at a snapshot: replay
        add/remove along the parent chain."""
        if snapshot_id is None:
            snapshot_id = self.latest_snapshot_id()
        if snapshot_id is None:
            return []
        live: set[str] = set()
        for s in self._chain(snapshot_id):
            live.difference_update(s.remove)
            live.update(s.add)
        return sorted(live)

    def files_stats(self, snapshot_id: int | None = None) -> dict:
        """{rel_path: {col: [min, max]}} for the live files at a
        snapshot — each file's stats come from the commit that ADDED
        it (files are immutable, so the stats never go stale)."""
        if snapshot_id is None:
            snapshot_id = self.latest_snapshot_id()
        if snapshot_id is None:
            return {}
        out: dict = {}
        for s in self._chain(snapshot_id):
            for f in s.remove:
                out.pop(f, None)
            for f in s.add:
                out[f] = s.stats.get(f, {})
        return out

    @staticmethod
    def _partition_values(rel: str) -> dict[str, str | None]:
        """Partition column -> value parsed from a file's Hive-style
        dir segments, with Spark's dir-name escaping undone and the
        null sentinel mapped to None."""
        from urllib.parse import unquote
        vals: dict[str, str | None] = {}
        for seg in rel.split(os.sep)[:-1]:
            if "=" not in seg:
                continue
            c, v = seg.split("=", 1)
            vals[c] = None if v == "__HIVE_DEFAULT_PARTITION__" \
                else unquote(v)
        return vals

    def _prune(self, rel_files: list[str], stats: dict,
               filters: list[tuple]) -> list[str]:
        """Drop files the manifest PROVES irrelevant to every filter.
        Absent stats keep the file (pruning is an optimization, never a
        correctness dependency — the residual filter still runs)."""
        part_cols = set(self.partition_by)
        kept = []
        for rel in rel_files:
            pvals = self._partition_values(rel) if part_cols else {}
            drop = False
            for col, op, val in filters:
                if col in pvals:
                    # dir value is the authoritative partition value;
                    # equality-shaped ops only (dir values are strings,
                    # range-comparing stringified numbers is unsound).
                    # Matching goes through _part_matches — Spark's dir
                    # formatting, not Python str() (bool/double/date
                    # literals silently pruned everything otherwise)
                    pv = pvals[col]
                    if op in ("=", "==") and not _part_matches(pv, val):
                        drop = True
                        break
                    if op == "in" and not any(_part_matches(pv, x)
                                              for x in val):
                        drop = True
                        break
                    if op == "isnull" and pv is not None:
                        drop = True
                        break
                    if op == "notnull" and pv is None:
                        drop = True
                        break
                    continue
                norm = ([_filter_value(x) for x in val]
                        if op == "in" else _filter_value(val))
                if _stats_exclude(stats.get(rel, {}).get(col),
                                  op, norm):
                    drop = True
                    break
            if not drop:
                kept.append(rel)
        return kept

    _OPS = {"=": "__eq__", "==": "__eq__", ">": "__gt__",
            ">=": "__ge__", "<": "__lt__", "<=": "__le__"}

    @staticmethod
    def _apply_filters(df: DataFrame, filters: list[tuple]) -> DataFrame:
        for col, op, val in filters:
            df = df.where(LogTable._filter_term(col, op, val))
        return df

    # ------------------------------------------------------------- reads

    def _read_files(self, rel_files: list[str],
                    merge_schema: bool = False) -> DataFrame:
        paths = [os.path.join(self._data_path, f) for f in rel_files]
        if not paths:
            # schema-stable empty frame from an existing data file; a
            # table with zero-commits has no schema to offer. Anchor
            # on the CURRENT chain's files first — a file known only
            # to a dead-fork snapshot may have been vacuumed — and
            # verify on-disk existence either way (retention-expired
            # files linger in old add-lists)
            snaps = self.snapshots()
            if not snaps:
                raise ValueError(f"LogTable {self.path} has no commits")
            live = sorted(self.files())
            dead = sorted({f for s in snaps for f in s.add}
                          - set(live))
            for rel in live + dead:
                p = os.path.join(self._data_path, rel)
                if os.path.exists(p):
                    return self._typed_read([p]).limit(0)
            raise ValueError(
                f"LogTable {self.path} has no readable data file to "
                "anchor an empty frame's schema on (all known files "
                "vacuumed)")
        if merge_schema:
            # mergeSchema is incompatible with an explicit read schema
            # (the explicit schema would suppress the union), so the
            # merged read keeps Spark's dir inference and only the
            # partition columns get normalized back to their declared
            # types — the evolution path trades the raw-string
            # exactness of the typed read for the schema union.
            df = (self.spark.read
                  .option("basePath", self._data_path)
                  .option("mergeSchema", "true")
                  .parquet(*paths))
            for c, t in self.partition_types.items():
                if c in df.columns:
                    df = df.withColumn(c, F.col(c).cast(t))
            return df
        return self._typed_read(paths)

    def _typed_read(self, paths: list[str]) -> DataFrame:
        """Scan an explicit file list with a PINNED schema: data
        columns from the first file's footer, partition columns from
        the types stamped at first write (``partition_types``).

        Without this, Spark INFERS partition column types from the dir
        strings of whatever file list it is handed — and the inference
        is both lossy (a fractional-seconds timestamp value falls back
        to string; '0001' in a string-typed partition becomes the
        double 1.0, silently corrupting the value AND dodging a
        residual equality filter) and file-list-dependent (the round-12
        randomized pruning harness caught a pruned read and an
        unpruned read of the same table returning DIFFERENT types for
        the same column). An explicit schema makes Spark parse each
        dir string directly as the declared type — exact for strings
        (no numeric reinterpretation), exact for fractional
        timestamps — and identical for every file subset. Partition
        pushdown is unaffected (partition columns are still recognized
        from the dirs). Tables created before types were stamped keep
        the legacy inference read."""
        reader = self.spark.read.option("basePath", self._data_path)
        ptypes = self.partition_types
        if ptypes:
            anchor = self.spark.read.parquet(paths[0]).schema
            present = {f.name for f in anchor.fields}
            ddl = ", ".join(
                [f"`{f.name}` {f.dataType.simpleString()}"
                 for f in anchor.fields]
                + [f"`{c}` {t}" for c, t in ptypes.items()
                   if c not in present])
            reader = reader.schema(ddl)
        return reader.parquet(*paths)

    def read(self, snapshot_id: int | None = None,
             merge_schema: bool = False,
             filters: list[tuple] | None = None) -> DataFrame:
        """Scan pinned to one snapshot's exact file list. Partition
        pruning + pushdown intact: files sit in Hive-style partition
        dirs under one basePath (reference S5 scan semantics).

        ``filters`` — ``[(col, op, value), ...]`` conjuncts with op in
        {=, ==, >, >=, <, <=, in, isnull, notnull} (the null tests
        ignore ``value``; files prune on the manifest's per-file null
        counts) — performs MANIFEST-LEVEL file
        skipping before Spark ever lists the scan: a file is dropped
        when the commit's per-file min/max (``stats_columns``) or its
        partition-dir value proves no row can match. This is the
        file-level pruning the reference gets from Iceberg manifests;
        without it a selective non-partition predicate still opens
        every footer at 100 TB. The same predicate is ALSO applied to
        the returned frame (residual filter), so pruning is never a
        correctness dependency.

        ``merge_schema=True`` = additive schema evolution: commits may
        add columns over time (files are immutable, so old files simply
        lack them); the merged read unions the schemas and fills
        missing columns with NULL, the same reader-side evolution
        Iceberg/Delta perform. Off by default — schema merging reads
        every file footer up front, which costs a listing-scale pass at
        100 TB, so turn it on only for tables that actually evolved."""
        rel = self.files(snapshot_id)
        if filters:
            rel = self._prune(rel, self.files_stats(snapshot_id),
                              filters)
        df = self._read_files(rel, merge_schema)
        return self._apply_filters(df, filters) if filters else df

    def read_increment(self, start_snapshot_id: int | None,
                       end_snapshot_id: int | None = None,
                       filters: list[tuple] | None = None) -> DataFrame:
        """Rows added strictly after ``start`` up to and including
        ``end`` (reference S6: start/end-snapshot-id scan). Raises
        :class:`BrokenLineageError` when the range is not a clean
        append-only ancestry — rollback re-forked history, a snapshot
        vanished, or a commit in range rewrote data (merge /
        overwrite), in which case "rows added since" is not
        well-defined and the caller must replan a full read, exactly
        like the reference's broken-ancestry fallback."""
        if end_snapshot_id is None:
            end_snapshot_id = self.latest_snapshot_id()
        if end_snapshot_id is None:
            raise BrokenLineageError("empty table has no snapshots")
        chain = self._chain(end_snapshot_id)
        if start_snapshot_id is None:
            start_idx = 0
        else:
            idx = [i for i, s in enumerate(chain)
                   if s.snapshot_id == start_snapshot_id]
            if not idx:
                raise BrokenLineageError(
                    f"snapshot {start_snapshot_id} is not an ancestor of "
                    f"{end_snapshot_id}")
            start_idx = idx[0] + 1
        inc = chain[start_idx:]
        non_append = [s for s in inc if s.operation != "append"]
        if non_append:
            raise BrokenLineageError(
                "increment contains non-append commit(s) "
                f"{[s.snapshot_id for s in non_append]}; rows-added-since "
                "is undefined across a rewrite")
        rel = sorted({f for s in inc for f in s.add})
        if filters:
            stats = {f: s.stats.get(f, {}) for s in inc for f in s.add}
            rel = self._prune(rel, stats, filters)
        df = self._read_files(rel)
        return self._apply_filters(df, filters) if filters else df

    def change_feed(self, start_snapshot_id: int | None,
                    end_snapshot_id: int | None = None) -> DataFrame:
        """Row-level change data feed between two snapshots — the
        Delta CDF / Iceberg changelog-scan analog, derived EXACTLY from
        the copy-on-write file deltas instead of write-time bookkeeping:

        across the range, net-removed files hold the before-image of
        every touched row and net-added files the after-image, so

            deleted  = read(net_removed)  EXCEPT ALL  read(net_added)
            inserted = read(net_added)    EXCEPT ALL  read(net_removed)

        gives multiset-exact row changes (an UPDATE surfaces as its
        delete+insert pair; rows merely copied between files cancel in
        the EXCEPT ALL). Cost is proportional to the CHURNED files, not
        the table — the file-granular CoW of merge/delete/update is
        what makes the feed cheap. Output columns: the table schema
        plus ``_change_type`` ('insert' | 'delete').

        Works across any ancestor range, including merge / delete /
        update / overwrite commits (unlike ``read_increment``, which
        is append-only by contract). ``compact``'s replace commits and
        ``rollback`` are rewrites with identical data — their
        adds/removes cancel here by construction. Raises
        :class:`BrokenLineageError` only when ``start`` is not an
        ancestor of ``end``.

        Retention constraint (same as Delta CDF): the before-image
        lives in the range's net-removed files, which ``vacuum`` is
        free to delete once they leave the current timeline — read
        the feed within the vacuum retention window, or vacuum with a
        retention that covers your longest feed lag."""
        if end_snapshot_id is None:
            end_snapshot_id = self.latest_snapshot_id()
        if end_snapshot_id is None:
            raise BrokenLineageError("empty table has no snapshots")
        chain = self._chain(end_snapshot_id)
        if start_snapshot_id is None:
            start_idx = 0
        else:
            idx = [i for i, s in enumerate(chain)
                   if s.snapshot_id == start_snapshot_id]
            if not idx:
                raise BrokenLineageError(
                    f"snapshot {start_snapshot_id} is not an ancestor "
                    f"of {end_snapshot_id}")
            start_idx = idx[0] + 1
        added: set[str] = set()
        removed: set[str] = set()
        for s in chain[start_idx:]:
            for f in s.add:
                # re-added after removal in range -> cancels
                if f in removed:
                    removed.discard(f)
                else:
                    added.add(f)
            for f in s.remove:
                # added then removed within range -> never visible
                if f in added:
                    added.discard(f)
                else:
                    removed.add(f)
        before = self._read_files(sorted(removed))
        after = self._read_files(sorted(added))
        cols = after.columns
        ins = (after.exceptAll(before.select(*cols))
                    .withColumn("_change_type", F.lit("insert")))
        del_ = (before.select(*cols).exceptAll(after)
                      .withColumn("_change_type", F.lit("delete")))
        return ins.unionByName(del_)

    # ------------------------------------------------------------ writes

    def _stage_write(self, df: DataFrame) -> list[str]:
        """Write ``df`` into immutable files under data/ and return
        their relative paths (NOT yet visible — only the commit
        publishes them). Files are written to a unique staging dir and
        moved into shared Hive-style partition dirs with a unique
        prefix, so a crashed writer leaves only unreferenced orphans."""
        token = uuid.uuid4().hex
        staging = os.path.join(self.path, f"_staging-{token}")
        parts = self.partition_by
        writer = df.write.mode("overwrite")
        if parts:
            self._stamp_partition_types(df)
            for fld in df.schema.fields:
                if fld.name in parts and fld.dataType.simpleString() \
                        in ("float", "double"):
                    # IEEE negative zero: Spark SQL defines
                    # -0.0 = 0.0 as TRUE (grouping/joins normalize),
                    # but the dynamic partition WRITER formats the raw
                    # bits — it can emit both 'c=0.0' and 'c=-0.0'
                    # dirs for values every query treats as one key,
                    # and COLLIDES with itself when one task writes
                    # both (FileAlreadyExistsException — caught by the
                    # round-12 randomized pruning harness). +0.0
                    # canonicalizes -0.0 to 0.0 per IEEE 754 and
                    # leaves every other value (NaN, infinities)
                    # bit-identical.
                    df = df.withColumn(
                        fld.name, (F.col(fld.name) + F.lit(0.0))
                        .cast(fld.dataType.simpleString()))
            writer = df.write.mode("overwrite").partitionBy(*parts)
        writer.parquet(staging)
        added: list[str] = []
        for root, _dirs, fs in os.walk(staging):
            for f in fs:
                if not f.endswith(".parquet") or f.startswith("."):
                    continue
                rel_dir = os.path.relpath(root, staging)
                dest_dir = (self._data_path if rel_dir == "."
                            else os.path.join(self._data_path, rel_dir))
                os.makedirs(dest_dir, exist_ok=True)
                dest_name = f"{token}-{f}"
                os.replace(os.path.join(root, f),
                           os.path.join(dest_dir, dest_name))
                added.append(dest_name if rel_dir == "."
                             else os.path.join(rel_dir, dest_name))
        # clear leftover staging skeleton (_SUCCESS, empty dirs)
        for root, dirs, fs in os.walk(staging, topdown=False):
            for f in fs:
                os.remove(os.path.join(root, f))
            for d in dirs:
                os.rmdir(os.path.join(root, d))
        os.rmdir(staging)
        return added

    def append(self, df: DataFrame, txn: str | None = None) -> int:
        """Append-only commit (the bronze write path, reference S4).

        ``txn`` makes the append IDEMPOTENT: if a commit carrying the
        same token already exists on the current timeline, the call is
        a no-op returning that snapshot id. This is how a replayed
        streaming micro-batch (checkpoint recovery re-delivers the last
        unacknowledged batch) commits exactly once — the same
        txnAppId/txnVersion idempotent-write protocol Delta documents
        and the role Iceberg's atomic snapshot commit plays for the
        reference's Kafka->Bronze hop (bronze_load_raw_data.py:84-90,
        README 'exactly-once' §)."""
        if txn is not None:
            latest = self.latest_snapshot_id()
            if latest is not None:
                for s in self._chain(latest):
                    if s.txn == txn:
                        return s.snapshot_id
        return self._commit("append", self._stage_write(df), [], txn=txn)

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic partition overwrite as ONE atomic commit (reference
        S10): removes every live file in the partitions present in
        ``df``, adds the replacement files."""
        parts = self.partition_by
        if not parts:
            raise ValueError("overwrite_partitions needs a partitioned table")
        base = self.latest_snapshot_id()
        adds = self._stage_write(df)
        # Derive the touched partitions from the STAGED files' own
        # relative dirs: Spark wrote those dirs with its own Hive-path
        # escaping (%xx specials, __HIVE_DEFAULT_PARTITION__ for null),
        # so dir-to-dir comparison can never miss a victim the way a
        # str(value)-to-raw-segment comparison does on null or
        # special-character partition values.
        touched = {os.path.dirname(f) for f in adds}
        removes = [f for f in self.files(base)
                   if os.path.dirname(f) in touched]
        return self._commit("overwrite_partitions", adds, removes,
                            expected_base=base)

    def merge(self, staged: DataFrame, keys: list[str],
              txn: str | None = None) -> int:
        """MERGE INTO: matched rows updated, new rows inserted, as
        file-granular copy-on-write (reference S9,
        silver_user_session_events.py:146-186 MERGEs on the session
        key). Only files that CONTAIN a matched key are rewritten:

          victims = files holding >=1 row whose key appears in staged
          adds    = staged  ∪  (victim rows anti-join staged on keys)
          commit  = remove(victims) + add(new files)

        Scale: the victim scan is one distributed semi-join over the
        file-path metadata column; unmatched files are untouched, so
        steady-state merge cost tracks the overlap, not table size.

        ``txn`` gives merges the same idempotent-replay protocol as
        append: a token already on the live chain short-circuits before
        any staging work, so a checkpoint-recovered foreachBatch that
        re-delivers a merge micro-batch commits exactly once even when
        re-applying it would NOT be a semantic no-op (multi-run SCD2
        batches are the canonical example)."""
        if txn is not None:
            latest = self.latest_snapshot_id()
            if latest is not None:
                for s in self._chain(latest):
                    if s.txn == txn:
                        return s.snapshot_id
        base = self.latest_snapshot_id()
        if base is None:
            return self._commit("merge", self._stage_write(staged), [],
                                expected_base=None, txn=txn)
        target = self._read_files(self.files(base)).withColumn(
            "_file", F.col("_metadata.file_path"))
        key_rows = staged.select(*keys).distinct()
        victims = (target.join(key_rows.hint("broadcast"), keys, "left_semi")
                   .select("_file").distinct().collect())
        from urllib.parse import unquote, urlparse
        # _metadata.file_path URI-encodes the on-disk name ONCE MORE on
        # top of Spark's Hive dir escaping (disk `p=x%3Ay z` prints as
        # `p=x%253Ay%20z`), so exactly one unquote recovers the real
        # relative path; skipping it mis-resolves victims for any
        # special-character partition value.
        victim_rel = sorted(
            os.path.relpath(unquote(urlparse(r["_file"]).path),
                            self._data_path)
            for r in victims)
        if not victim_rel:
            return self._commit("merge", self._stage_write(staged), [],
                                expected_base=base, txn=txn)
        kept = (self._read_files(victim_rel)
                .join(key_rows, keys, "left_anti")
                .select(*staged.columns))
        # materialize BEFORE the commit flips the file set (the staged
        # write itself forces the plan; localCheckpoint would be
        # redundant — victims stay on disk until vacuum, the commit
        # only unreferences them, so there is no read-before-overwrite
        # hazard at all: immutable files are the point of the format)
        adds = self._stage_write(kept.unionByName(staged))
        return self._commit("merge", adds, victim_rel, expected_base=base,
                            txn=txn)

    def delete_where(self, filters: list[tuple]) -> int:
        """DELETE FROM ... WHERE, as file-granular copy-on-write — the
        Iceberg row-level delete the reference relies on for GDPR
        erasure and bad-batch retraction, with the same conjunctive
        ``(col, op, value)`` filters the read path takes.

        Three-stage narrowing keeps the rewrite proportional to the
        matched data, not the table:

          1. manifest stats + partition dirs PRUNE files that provably
             hold no match (no IO at all);
          2. one distributed pass over the surviving candidates finds
             files actually CONTAINING >=1 matching row (victims);
          3. only victims are rewritten, keeping their non-matching
             rows; the commit removes victims and adds the rewrites.

        SQL DELETE semantics: a row is removed iff the predicate is
        TRUE — NULL-predicate rows are kept (filters compare with =,
        so a NULL column value never matches). Readers pinned to older
        snapshots still see the deleted rows (immutable files) until
        ``vacuum`` ages them out — exactly Iceberg's snapshot-isolation
        contract for deletes."""
        base, victim_rel = self._row_level_victims(filters)
        if not victim_rel:
            return base
        victim_df = self._read_files(victim_rel)
        # keep = NOT(all filters match); NULLs in any compared column
        # make the conjunction non-TRUE, so those rows are kept
        hit = F.coalesce(self._filter_cond(filters), F.lit(False))
        kept = victim_df.where(~hit)
        adds = self._stage_write(kept.select(*victim_df.columns))
        return self._commit("delete", adds, victim_rel,
                            expected_base=base)

    @staticmethod
    def _filter_term(col: str, op: str, val) -> Column:
        """One (col, op, value) filter as a boolean Column — the single
        translation both the read path and DML share. ``isnull`` /
        ``notnull`` ignore ``val`` (pass None)."""
        if op == "in":
            return F.col(col).isin(list(val))
        if op == "isnull":
            return F.col(col).isNull()
        if op == "notnull":
            return F.col(col).isNotNull()
        return getattr(F.col(col), LogTable._OPS[op])(F.lit(val))

    @staticmethod
    def _filter_cond(filters: list[tuple]) -> Column:
        """Conjunction of read-path filters as one boolean Column."""
        cond = F.lit(True)
        for col, op, val in filters:
            cond = cond & LogTable._filter_term(col, op, val)
        return cond

    def _row_level_victims(self,
                           filters: list[tuple]) -> tuple[int, list[str]]:
        """Shared delete/update narrowing: manifest-stats pruning, then
        one containment pass finding the live files that hold >=1 row
        matching ``filters``. Returns (base snapshot, victim paths)."""
        base = self.latest_snapshot_id()
        if base is None:
            raise ValueError(f"LogTable {self.path} has no commits")
        candidates = self._prune(self.files(base),
                                 self.files_stats(base), filters)
        if not candidates:
            return base, []
        matched = self._apply_filters(self._read_files(candidates),
                                      filters)
        victims = (matched
                   .select(F.col("_metadata.file_path").alias("_file"))
                   .distinct().collect())
        from urllib.parse import unquote, urlparse
        return base, sorted(
            os.path.relpath(unquote(urlparse(r["_file"]).path),
                            self._data_path)
            for r in victims)

    def update_where(self, filters: list[tuple],
                     set_exprs: dict[str, object]) -> int:
        """UPDATE ... SET ... WHERE — the third leg of the DML triad
        (merge upserts, delete_where removes, this rewrites in place).
        Same three-stage narrowing as delete_where: stats-pruned
        candidates -> containment scan -> victim-only rewrite, where
        matching rows get ``set_exprs`` (column -> Column or literal)
        applied and non-matching rows in the same files are carried
        unchanged. NULL-predicate rows are NOT updated (SQL UPDATE)."""
        base, victim_rel = self._row_level_victims(filters)
        if not victim_rel:
            return base
        victim_df = self._read_files(victim_rel)
        unknown = sorted(set(set_exprs) - set(victim_df.columns))
        if unknown:
            raise ValueError(
                f"update_where SET names unknown column(s) {unknown} — "
                f"table columns are {victim_df.columns} (SQL UPDATE "
                "rejects an unknown SET column; silently ignoring it "
                "would no-op the update)")
        hit = F.coalesce(self._filter_cond(filters), F.lit(False))
        # ONE select evaluating predicate and every SET expression
        # against the ORIGINAL row — sequential withColumn would let a
        # SET of a predicate column hide the row from later SETs, and
        # {a: col(b), b: col(a)} would fail to swap (SQL UPDATE
        # evaluates all right-hand sides against the pre-update row)
        updated = victim_df.select(*[
            F.when(hit, set_exprs[c] if isinstance(set_exprs[c], Column)
                   else F.lit(set_exprs[c])).otherwise(F.col(c)).alias(c)
            if c in set_exprs else F.col(c)
            for c in victim_df.columns])
        adds = self._stage_write(updated)
        return self._commit("update", adds, victim_rel,
                            expected_base=base)

    def compact(self, target_files: int = 1,
                zorder_by: list[str] | None = None,
                filters: list[tuple] | None = None) -> int:
        """Rewrite the live file set into ``target_files`` files per
        partition as ONE ``replace`` commit (the maintenance job
        Iceberg's rewrite_data_files performs for the reference's
        tables): streaming appends and frequent merges accrete a file
        per commit, and at scale the scan-task explosion dominates read
        cost. Readers pinned to older snapshots are untouched
        (immutable files); an incremental reader whose range crosses
        the replace commit gets BrokenLineageError and replans a full
        read — identical data, so downstream MERGE/overwrite stays
        idempotent.

        ``zorder_by`` re-clusters the rewrite along the Morton curve of
        those columns (sources/layout.py) instead of hash-repartitioning
        — Iceberg's sort-order rewrite / Delta OPTIMIZE ZORDER BY as the
        same replace commit. Combined with ``stats_columns`` covering
        the same columns, the freshly tightened per-file min/max let
        ``read(filters=...)`` skip files on ANY clustered dimension."""
        base = self.latest_snapshot_id()
        live = self.files(base)
        if filters:
            # partition-scoped maintenance: rewrite ONLY the files the
            # manifest proves relevant (a daily table compacts
            # yesterday's partition, never the year of history behind
            # it) — same pruning as the read path, and the replace
            # commit removes exactly what it rewrote
            live = self._prune(live, self.files_stats(base), filters)
        if not live:
            return base or 0
        df = self._read_files(live)
        if zorder_by:
            from w_userflow_featurestore_spark.sources.layout import zorder
            df = zorder(df, zorder_by, n_files=target_files)
        else:
            df = df.repartition(target_files)
        adds = self._stage_write(df)
        return self._commit("replace", adds, live, expected_base=base)

    def rewrite(self, df: DataFrame, *, expected_base: int | None,
                target_files: int = 1) -> int:
        """Atomic whole-table CONTENT rewrite: replace the live file
        set with ``df`` as ONE ``replace`` commit. Where
        :meth:`compact` preserves rows and only merges files, rewrite
        changes the row set — the roll-up compaction an
        additive-delta ledger needs (sum the deltas, replace the
        deltas with their sums: row count drops to the distinct-key
        count, the group-sum view is unchanged).

        ``expected_base`` is the snapshot ``df`` was derived from
        (``None`` for a table with no commits yet). It is required
        because only the caller knows it: a base read here, after the
        caller pinned ``df``, would let a commit landing in between
        vanish from the rewritten table. If the table has moved past
        ``expected_base`` the commit raises
        :class:`ConcurrentCommitError` and the caller re-derives
        ``df``. Staging writes the new files while the live set is
        still intact. Readers pinned to older snapshots are untouched;
        incremental readers crossing the replace commit replan a full
        read, exactly as for :meth:`compact`."""
        live = [] if expected_base is None else self.files(expected_base)
        adds = self._stage_write(df.repartition(target_files))
        return self._commit("replace", adds, live,
                            expected_base=expected_base)

    def rollback(self, snapshot_id: int) -> int:
        """Reset the table to an older snapshot by committing a new
        snapshot whose PARENT is the target — later snapshots become a
        dead fork, so a reader that recorded one of them fails the
        ancestry check and replans a full read (the exact situation
        the reference's is_ancestor_snapshot guard exists for)."""
        base = self.latest_snapshot_id()
        chain_files = self.files(snapshot_id)
        cur = self.files(base)
        return self._commit(
            "rollback",
            add=[f for f in chain_files if f not in set(cur)],
            remove=[f for f in cur if f not in set(chain_files)],
            parent_id=snapshot_id, expected_base=base)

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Truncate table history to the newest ``keep_last`` snapshots
        on the live chain — Iceberg's ``expire_snapshots`` maintenance
        op. Expired commits' log entries are deleted, so data files
        referenced ONLY by expired history become unreferenced and the
        next ``vacuum`` reclaims them (compaction/merge/delete leave
        old files time-travel-reachable forever otherwise — metadata
        AND storage grow without bound on a busy table).

        Consequences, all standard for the operation: time travel and
        ``change_feed`` ranges starting before the truncation point
        raise/replan (incremental readers fall back to a full read via
        the broken-lineage path), and a streaming txn token recorded
        only in expired history would be RE-applied on replay — expire
        only past the replay window, exactly Iceberg's guidance. The
        oldest kept commit is rewritten as a CHECKPOINT holding the
        full live file set + stats as of its snapshot (Delta's
        checkpoint-then-clean protocol — a delta log cannot just drop
        its base). Returns the number of snapshots expired."""
        latest = self.latest_snapshot_id()
        if latest is None:
            return 0
        keep_last = max(1, keep_last)
        chain = self._chain(latest)
        expired = chain[:-keep_last]
        if not expired:
            return 0
        # The log is a DELTA log — each commit records only its own
        # add/remove — so before dropping history the oldest KEPT
        # commit must become a CHECKPOINT carrying the full live file
        # set (and its stats) as of that snapshot: exactly Delta's
        # checkpoint-then-clean protocol. Atomic tmp+rename rewrite.
        oldest = chain[-keep_last]
        full = self.files(oldest.snapshot_id)
        stats = self.files_stats(oldest.snapshot_id)
        body = {"snapshot_id": oldest.snapshot_id, "parent_id": None,
                "committed_at_ms": oldest.committed_at_ms,
                "operation": "checkpoint", "add": sorted(full),
                "remove": [], "txn": oldest.txn,
                "stats": {f: stats.get(f, {}) for f in full}}
        target = os.path.join(self._log_path,
                              f"{oldest.snapshot_id:020d}.json")
        # uuid-suffixed tmp, like every other tmp write in this file:
        # two concurrent expires sharing a bare '.tmp' name could
        # publish one writer's half-written bytes via the other's
        # os.replace, bricking the log
        tmp = f"{target}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(body, fh)
        os.replace(tmp, target)
        n = 0
        for snap in expired:
            p = os.path.join(self._log_path,
                             f"{snap.snapshot_id:020d}.json")
            try:
                os.remove(p)
                n += 1
            except FileNotFoundError:
                pass           # lost a race with another expire
        return n

    def vacuum(self, retention_seconds: float = 24 * 3600.0) -> int:
        """Delete data files unreferenced by the CURRENT timeline (all
        snapshots reachable from latest), and orphaned ``_txn_log/*.tmp``
        files — left by a writer killed between its private tmp write
        and the publish, or during an expire/meta tmp write. Returns
        files deleted. Time travel to dead forks stops working — as
        with any format's vacuum, retention is a policy decision.

        Files younger than ``retention_seconds`` are kept even when
        unreferenced: ``_stage_write`` moves files into data/ BEFORE
        the commit publishes them, so a zero-retention vacuum racing an
        in-flight append/merge would delete the writer's staged files
        and the winning commit would then reference nonexistent files,
        permanently breaking reads of that snapshot. A young tmp file
        may likewise be a commit in flight. The window is the same
        guard as Delta VACUUM's retention period; pass ``0`` only when
        no concurrent writer can exist."""
        cutoff = time.time() - retention_seconds

        def remove_if_old(p: str) -> bool:
            try:
                if os.path.getmtime(p) > cutoff:
                    return False           # possibly in flight
                os.remove(p)
            except FileNotFoundError:
                return False               # lost a race with another vacuum
            return True

        n = sum(remove_if_old(os.path.join(self._log_path, f))
                for f in os.listdir(self._log_path) if f.endswith(".tmp"))
        latest = self.latest_snapshot_id()
        if latest is None:
            return n
        keep = {f for s in self._chain(latest) for f in s.add}
        for root, _dirs, fs in os.walk(self._data_path):
            for f in fs:
                p = os.path.join(root, f)
                rel = os.path.relpath(p, self._data_path)
                if f.endswith(".parquet") and rel not in keep:
                    n += remove_if_old(p)
        return n
