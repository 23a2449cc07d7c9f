"""The registrar reborn — checkpoint/lineage metadata table (O-X1..O-X4).

The reference persists ``map[source]FileState`` as JSON via
write-temp-then-atomic-rename (/root/reference/registrar.go:38-51,
registrar_other.go:9-15) and, only after the ack, folds acked events into it
(/root/reference/publisher1.go:126). Here the same trick backs a parquet
metadata table: each sink commit (:meth:`Registrar.commit`, the only
writer of commit files) writes one immutable parquet file of
per-partition lineage rows through the package's one single-file swap,
``manifest.publish_file`` (atomic on POSIX). Iceberg's metadata swap would
give this for free; the parquet fallback keeps the identical interface
without the runtime jar (SURVEY §7.3 hard part 5).

The map stays keyed: a commit file's name is derived from its (run_id,
sink) key (``Registrar._commit_name``), so the resume lookup lists only
names with the run's prefix and reads that run's files (plus the
compaction index) — O(that run), not O(history). Every read goes through
one reader, ``Registrar._commits``.

Crucially the commit ordering is the *reverse* of the reference's bug
surface: the reference acks then writes state (duplicate window on crash,
SURVEY §3.4) — we publish each sink's manifest first (plans/manifest.py)
and the checkpoint row second, and resume treats a manifest the registrar
never adopted as garbage to delete-and-redo, so routed-row delivery is
exactly-once.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .manifest import gc_sink, publish_file, resolve_sink_paths

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("run_id", pa.string(), nullable=False),
        pa.field("sink", pa.string(), nullable=False),
        pa.field("partition_id", pa.int32(), nullable=False),
        pa.field("row_count", pa.int64(), nullable=False),
        pa.field("token_total", pa.int64(), nullable=False),
        pa.field("committed_at", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)
# the compaction index: every folded commit's rows plus its snapshot_id
_INDEX_SCHEMA = _ARROW_SCHEMA.append(pa.field("snapshot_id", pa.string()))


@dataclass(frozen=True)
class LineageRow:
    partition_id: int
    row_count: int
    token_total: int


def _safe(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", name)


class Registrar:
    """Parquet-dir-backed checkpoint table. One file per (run_id, sink) commit."""

    INDEX_NAME = "_index.parquet"

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- write side (driver-only, metadata-sized) ---------------------------

    def commit(self, run_id: str, sink: str, lineage: list[LineageRow]) -> str:
        """Atomically record a sink commit. Idempotent: re-commit overwrites."""
        now = datetime.now(timezone.utc)
        table = pa.Table.from_pydict(
            {
                "run_id": [run_id] * len(lineage),
                "sink": [sink] * len(lineage),
                "partition_id": [r.partition_id for r in lineage],
                "row_count": [r.row_count for r in lineage],
                "token_total": [r.token_total for r in lineage],
                "committed_at": [now] * len(lineage),
            },
            schema=_ARROW_SCHEMA,
        )
        return self._write(table, self._commit_name(run_id, sink))

    def _write(self, table: pa.Table, name: str) -> str:
        """One parquet file swapped into place (registrar_other.go:9-15,
        reborn): the commit writer and the index writer."""
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        return publish_file(os.path.join(self.path, name), buf.getvalue())

    @staticmethod
    def _commit_name(run_id: str, sink: str) -> str:
        """Collision-free commit filename: readable prefix + hash of the RAW
        (run_id, sink) pair. Prefix-only naming collided for pairs differing
        in characters the sanitizer mangles (e.g. 'r__x'/'y' vs 'r'/'x__y')."""
        h = hashlib.sha256(f"{run_id}\x00{sink}".encode()).hexdigest()[:16]
        return f"{_safe(run_id)[:32]}__{_safe(sink)[:32]}__{h}.parquet"

    # -- read side -----------------------------------------------------------

    @staticmethod
    def _sid_of(path: str) -> str:
        return os.path.basename(path).rsplit("__", 1)[-1].removesuffix(".parquet")

    @classmethod
    def _read_commit(cls, f: str) -> pa.Table:
        """Read one commit file (written by :meth:`commit` in
        ``_ARROW_SCHEMA``) as index rows; the snapshot_id is the name's
        hash."""
        t = pq.read_table(f)
        return t.append_column(
            _INDEX_SCHEMA.field("snapshot_id"),
            pa.array([cls._sid_of(f)] * t.num_rows, pa.string()),
        )

    def _commits(self, run_id: str | None = None) -> tuple[list[str], pa.Table]:
        """The one commit reader: (live commit files read, their rows plus
        the ``_index.parquet`` rows no live file overrides), as
        ``_INDEX_SCHEMA`` rows — of every run, or of ``run_id`` only.

        Keyed lookup: every commit file of a run starts with the run's
        name prefix, so only those are read. Other runs can share the
        prefix (it is sanitized and truncated), so rows are still
        filtered on the raw ``run_id``. A live file overrides index rows
        with its snapshot_id: an idempotent re-commit after compaction
        writes the same deterministic filename, and the file is newer.

        A listed file that vanishes mid-read was removed by a concurrent
        ``compact()`` AFTER its rows moved into the index (deletion
        strictly follows the atomic index swap), so the read restarts
        from a fresh listing; the last attempt propagates."""
        prefix = "" if run_id is None else _safe(run_id)[:32] + "__"
        index_path = os.path.join(self.path, self.INDEX_NAME)
        for attempt in range(4):
            files = [
                os.path.join(self.path, f)
                for f in sorted(os.listdir(self.path))
                if f.startswith(prefix)
                and f.endswith(".parquet")
                and f != self.INDEX_NAME
            ]
            try:
                live = [self._read_commit(f) for f in files]
                index = (
                    pq.read_table(index_path)
                    if os.path.exists(index_path)
                    else _INDEX_SCHEMA.empty_table()
                )
                break
            except FileNotFoundError:
                if attempt == 3:
                    raise
        overridden = pa.array([self._sid_of(f) for f in files], pa.string())
        index = index.filter(pc.invert(pc.is_in(index["snapshot_id"], overridden)))
        rows = pa.concat_tables([*live, index])
        if run_id is not None:
            rows = rows.filter(pc.equal(rows["run_id"], run_id))
        return files, rows

    def committed_sinks(self, run_id: str) -> set[str]:
        """O-X3 resume input: which sinks of this run are already done."""
        return set(self._commits(run_id)[1]["sink"].to_pylist())

    def lineage(self, run_id: str | None = None) -> pa.Table:
        return self._commits(run_id)[1].select(_ARROW_SCHEMA.names)

    # -- Iceberg-style snapshot surface ---------------------------------------
    #
    # Every commit file IS a snapshot increment (Iceberg: each commit swaps
    # in a new metadata.json listing the manifests of all live data files;
    # here: each single-file swap adds one immutable lineage file for one
    # sink, whose data files its manifest names). Snapshot listing and
    # time-travel reads are therefore pure metadata operations — no data
    # file is touched until the final scan, and the as-of filter selects
    # WHOLE committed sinks (each resolved through its manifest), mirroring
    # Iceberg's manifest pruning. Snapshot identity (the commit name's hash)
    # survives compaction. On a real deployment the same interface binds to
    # Iceberg's snapshot log; this keeps the semantics testable without the
    # jar.

    def snapshots(self) -> list[Snapshot]:
        """All commits in commit order (committed_at, then snapshot_id for
        same-microsecond ties — deterministic across re-listing)."""
        return _snapshots_of(self._commits()[1])

    def current(self) -> Snapshot | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def read_as_of(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str,
        snapshot_id: str | None = None,
        as_of: datetime | None = None,
    ) -> DataFrame:
        """Time-travel read of a run's published data: only sinks whose
        commit is <= the requested snapshot (by id) or timestamp are
        visible — Iceberg `VERSION AS OF` / `TIMESTAMP AS OF`, at sink-
        commit granularity. Pure metadata filter + parquet scan of each
        visible sink's manifest-listed files (basePath keeps the sink
        partition column).

        `snapshot_id` is the precise mechanism: it resolves to a point in
        the GLOBAL commit order (so an id from any run — e.g. one listed
        by --snapshots — defines the cut), then the run filter selects
        which run's data to read at that point. `as_of` filters on
        committed_at, each sink commit's own instant (as in Iceberg,
        every snapshot carries the time it was committed), so a cut can
        fall between two sinks of one run; a commit at exactly `as_of`
        is included."""
        all_snaps = self.snapshots()
        snaps = [s for s in all_snaps if s.run_id == run_id]
        if snapshot_id is not None:
            cut = next(
                (s.sequence_number for s in all_snaps if s.snapshot_id == snapshot_id),
                None,
            )
            if cut is None:
                raise ValueError(f"unknown snapshot_id {snapshot_id!r}")
            snaps = [s for s in snaps if s.sequence_number <= cut]
        if as_of is not None:
            cut_at = _as_utc(as_of)
            snaps = [s for s in snaps if s.committed_at <= cut_at]
        run_dir = os.path.join(out_dir, f"run_id={run_id}")
        # each visible sink exposes exactly its manifest-listed files
        dirs = resolve_sink_paths(run_dir, sorted({s.sink for s in snaps}))
        if not dirs:
            # Iceberg semantics: reading before the first visible snapshot
            # is an error, not an empty relation of guessed schema
            raise ValueError(
                f"no committed sink visible for run {run_id!r} at the "
                "requested snapshot/timestamp"
            )
        return spark.read.option("basePath", run_dir).parquet(*dirs)

    # -- maintenance (Iceberg parity: manifest compaction) --------------------

    def compact(self) -> int:
        """Fold every commit file into ONE atomically-swapped index parquet
        (`_index.parquet`) — Iceberg's manifest-list compaction for this
        layout. All lineage rows AND snapshot identity (snapshot_id from
        the commit filename, committed_at from the rows) are preserved, so
        resume, lineage audits, `snapshots()` ordering and time travel are
        unchanged — asserted equal in tests. The folded commit files are
        removed afterwards: thousands of metadata-sized files become one,
        and a full registrar read stops growing with commit count.

        Crash-safe: the index swap is one `publish_file`; a crash
        before any deletion leaves covered files in place, which readers
        ignore via the live-overrides-index rule (same snapshot_id).
        Idempotent: a re-commit AFTER compaction writes the same
        deterministic filename and overrides its index rows.

        Returns the number of commit files folded."""
        files, rows = self._commits()
        if not files:
            return 0
        self._write(rows, self.INDEX_NAME)
        _remove(files)
        return len(files)

    # -- maintenance (Iceberg parity: snapshot expiry + data GC) --------------

    def expire_snapshots(
        self,
        *,
        keep_last: int | None = None,
        older_than: "datetime | None" = None,
        keep_last_runs: int | None = None,
        out_dir: str | None = None,
    ) -> dict:
        """Iceberg ``expire_snapshots`` for this layout: at a poll-per-run
        tail cadence the snapshot log grows without bound — the same
        metadata-scaling argument that motivated :meth:`compact` — and a
        retention policy is how a log pipeline ages data out (the
        reference forwards to a receiver that owns retention; here the
        registrar IS the receiver's catalog).

        Selection (Iceberg ``expireOlderThan`` + ``retainLast``):
        candidates are snapshots with ``committed_at < older_than`` (all
        snapshots when ``older_than`` is None); the ``keep_last`` newest
        snapshots are ALWAYS retained (default 1 — the current snapshot
        is never expired). At least one criterion is required.

        Removal is data-first, metadata-second: a crash mid-way leaves
        the expired set still enumerable from metadata, so a re-run
        completes the job (idempotent — per-key deletes of already-gone
        files are no-ops). The surviving rows are then written as the
        compaction index (the same single-file ``publish_file`` every
        other commit uses) and the live commit files read are removed, so
        after an expiry every survivor lives in ``_index.parquet``. Data GC
        (with ``out_dir``) deletes per-key and removes only EMPTY dirs —
        no directory renames anywhere (object-store-safe, enforced under
        the no-dir-rename shim in tests). Time travel to surviving
        snapshots is unchanged; reads at an expired snapshot raise, as
        in Iceberg.

        ``keep_last_runs`` is the RUN-aware selector (the tail daemon's
        retention unit: one poll == one run of up to |sinks| snapshots):
        every snapshot of the K distinct run_ids with the newest commits
        is retained, regardless of how many sinks each run committed.

        Replay horizon caveat: expiring a (run_id, sink) also forgets
        its resume row, so replaying that exact run_id would re-publish.
        Retention must exceed the replay horizon — for the tail daemon
        the persisted poll counter in ``_tailstate.json`` already
        prevents poll run_id reuse, so this is only a concern for
        manually reused run ids."""
        if keep_last is None and older_than is None and keep_last_runs is None:
            raise ValueError(
                "expire_snapshots: pass keep_last, older_than and/or "
                "keep_last_runs"
            )
        if keep_last is not None and keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        if keep_last_runs is not None and keep_last_runs < 1:
            raise ValueError("expire_snapshots: keep_last_runs must be >= 1")
        files, rows = self._commits()
        snaps = _snapshots_of(rows)
        retain = 1 if keep_last is None else keep_last
        protected = {s.snapshot_id for s in snaps[-retain:]}
        if keep_last_runs is not None:
            # runs ordered by their NEWEST snapshot (commit order is the
            # snapshot order, so last-seen-wins over a single pass)
            latest_seq: dict[str, int] = {}
            for s in snaps:
                latest_seq[s.run_id] = s.sequence_number
            newest_runs = set(
                sorted(latest_seq, key=latest_seq.__getitem__)[-keep_last_runs:]
            )
            protected |= {
                s.snapshot_id for s in snaps if s.run_id in newest_runs
            }
        cut = _as_utc(older_than) if older_than is not None else None
        expired = [
            s
            for s in snaps
            if s.snapshot_id not in protected
            and (cut is None or s.committed_at < cut)
        ]
        report = {
            "expired": [
                {"snapshot_id": s.snapshot_id, "run_id": s.run_id, "sink": s.sink}
                for s in expired
            ],
            "kept": len(snaps) - len(expired),
            "data_files_removed": 0,
        }
        if not expired:
            return report
        expired_ids = {s.snapshot_id for s in expired}
        if out_dir is not None:
            surviving_runs = {
                s.run_id for s in snaps if s.snapshot_id not in expired_ids
            }
            report["data_files_removed"] = self._gc_expired_data(
                out_dir, expired, surviving_runs
            )
        gone = pa.array(sorted(expired_ids), pa.string())
        self._write(
            rows.filter(pc.invert(pc.is_in(rows["snapshot_id"], gone))),
            self.INDEX_NAME,
        )
        _remove(files)
        return report

    @staticmethod
    def _gc_expired_data(
        out_dir: str, snaps: "list[Snapshot]", surviving_runs: set[str]
    ) -> int:
        """Per-key deletion of expired snapshots' published data. A run
        with SURVIVING sibling snapshots gets sink-level GC only (its
        manifest and data files; the run dir stays). A FULLY expired run
        is walked bottom-up — every file deleted per key, every emptied
        dir rmdir'd — so the run's `_manifests/`, `_metrics/` and any
        failed attempt's orphan data files go with it (run_pipeline leaves
        no `_SUCCESS` or `.crc` files). No directory is ever renamed.
        Returns files removed."""
        n = 0
        dead_runs = set()
        for s in snaps:
            run_dir = os.path.join(out_dir, f"run_id={s.run_id}")
            if s.run_id not in surviving_runs:
                dead_runs.add(run_dir)
                continue
            n += gc_sink(run_dir, s.sink)
            try:
                os.rmdir(os.path.join(run_dir, f"sink={s.sink}"))
            except OSError:
                pass
        for run_dir in sorted(dead_runs):
            for root, dirs, files in os.walk(run_dir, topdown=False):
                for f in files:
                    try:
                        os.remove(os.path.join(root, f))
                        n += 1
                    except OSError:
                        pass
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return n


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: str  # content-derived, stable across re-listing
    run_id: str
    sink: str
    committed_at: datetime
    sequence_number: int  # position in commit order (parent = seq - 1)


def _as_utc(dt: datetime) -> datetime:
    """Normalize a caller's cut-off to tz-aware UTC so it compares with
    the registrar's (always UTC) commit instants."""
    return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt


def _snapshots_of(rows: pa.Table) -> list[Snapshot]:
    """The first row per snapshot_id, in (committed_at, snapshot_id) order."""
    first: dict[str, tuple] = {}
    for sid, rid, sink, at in zip(
        *(rows[c].to_pylist() for c in ("snapshot_id", "run_id", "sink", "committed_at"))
    ):
        first.setdefault(sid, (at, sid, rid, sink))
    return [
        Snapshot(sid, rid, sink, at, i)
        for i, (at, sid, rid, sink) in enumerate(sorted(first.values()))
    ]


def _remove(files: list[str]) -> None:
    for f in files:
        try:
            os.remove(f)
        except OSError:
            pass
