"""The registrar reborn — checkpoint/lineage metadata over the manifests
(O-X1..O-X4).

The reference keeps its shipped state in one record, written with one
write-temp-then-atomic-rename per update (its registrar.go:38-51 and
registrar_other.go:9-15), only after the ack (publisher1.go:126). Here each sink's manifest
(plans/manifest.py) is that record: one atomically swapped file names the
sink's data files and carries its per-source statistics, its lineage rows
and its ``committed_at``. :meth:`Registrar.commit` publishes it
(``manifest.publish_manifest``, the package's only commit writer) and
everything else here reads it — Delta Lake and Iceberg also commit with
one atomic metadata write.

The map stays keyed: a run's commits live in its own
``run_id=R/_manifests/``, so the resume lookup lists that one directory —
O(that run), not O(history) — and every read enumerates the table's
commits through ``manifest.committed``, the enumerator
``pipeline.read_table`` shares.

Crucially the commit ordering is the *reverse* of the reference's bug
surface: the reference acks then writes state (duplicate window on crash,
SURVEY §3.4); here the data files land first and the manifest swap is both
the ack and the state write, so there is no window between them. Resume
treats a sink with no manifest as uncommitted: its files are garbage to
delete and redo, so routed-row delivery is exactly-once.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .compact import gc_unreferenced
from .manifest import (
    MANIFEST_DIR,
    committed,
    publish_manifest,
    read_manifest,
    resolve_sink_paths,
)

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


@dataclass(frozen=True)
class LineageRow:
    partition_id: int
    row_count: int
    token_total: int


class Registrar:
    """The checkpoint table of the output directory that holds ``path``
    (``<out>/_checkpoint``, by convention): one manifest per (run_id, sink)
    commit under ``<out>/run_id=*/_manifests/``. Nothing is written at
    ``path`` itself."""

    def __init__(self, path: str):
        self.path = path
        self.out_dir = os.path.dirname(os.path.abspath(path))

    # -- write side (driver-only, metadata-sized) ---------------------------

    def commit(
        self,
        run_id: str,
        sink: str,
        lineage: list[LineageRow],
        *,
        files: list[str] = (),
        sources: list[dict] = (),
    ) -> str:
        """Atomically record a sink commit: publish its manifest, naming
        ``files`` (relative to the run dir) with their ``sources``
        statistics and ``lineage``. Lists and reads nothing. Idempotent:
        a re-commit overwrites."""
        return publish_manifest(
            os.path.join(self.out_dir, f"run_id={run_id}"),
            sink,
            files,
            sources,
            [asdict(r) for r in lineage],
        )

    # -- read side -----------------------------------------------------------

    def _commits(self, run_id: str | None = None) -> list[tuple[str, dict]]:
        """The one commit reader: (run_id, manifest) of every committed
        sink, or of ``run_id``'s only. A manifest removed between the
        listing and its read (a concurrent expiry) is skipped."""
        found = (
            (r, read_manifest(run_dir, sink))
            for r, run_dir, sink in committed(self.out_dir, run_id)
        )
        return [(r, m) for r, m in found if m is not None]

    def committed_sinks(self, run_id: str) -> set[str]:
        """O-X3 resume input: which sinks of this run are already done —
        one listing of the run's ``_manifests/``, no read."""
        return {sink for _, _, sink in committed(self.out_dir, run_id)}

    def lineage(self, run_id: str | None = None) -> pa.Table:
        return pa.Table.from_pylist(
            [
                {"run_id": r, "sink": m["sink"], **row, "committed_at": _at(m)}
                for r, m in self._commits(run_id)
                for row in m["lineage"]
            ],
            schema=_ARROW_SCHEMA,
        )

    # -- Iceberg-style snapshot surface ---------------------------------------
    #
    # Every manifest IS a snapshot increment (Iceberg: each commit swaps in
    # a new metadata.json listing the manifests of all live data files;
    # here: each single-file swap commits one sink, whose data files the
    # manifest names). Snapshot listing and time-travel reads are therefore
    # pure metadata operations — no data file is touched until the final
    # scan, and the as-of filter selects WHOLE committed sinks (each
    # resolved through its manifest), mirroring Iceberg's manifest pruning.
    # Snapshot identity (the hash of the raw (run_id, sink)) and instant
    # (the manifest's committed_at) survive compaction, which re-publishes
    # both unchanged. On a real deployment the same interface binds to
    # Iceberg's snapshot log; this keeps the semantics testable without the
    # jar.

    def snapshots(self) -> list[Snapshot]:
        """All commits in commit order (committed_at, then snapshot_id for
        same-microsecond ties — deterministic across re-listing)."""
        keyed = sorted(
            (_at(m), _snapshot_id(r, m["sink"]), r, m["sink"])
            for r, m in self._commits()
        )
        return [
            Snapshot(sid, r, sink, at, i)
            for i, (at, sid, r, sink) in enumerate(keyed)
        ]

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

    # -- maintenance (Iceberg parity: snapshot expiry + data GC) --------------

    def expire_snapshots(
        self,
        *,
        keep_last: int | None = None,
        older_than: "datetime | None" = None,
        keep_last_runs: int | None = None,
    ) -> dict:
        """Iceberg ``expire_snapshots`` for this layout: at a poll-per-run
        tail cadence the snapshot log grows without bound, and a retention
        policy is how a log pipeline ages data out (the reference forwards
        to a receiver that owns retention; here the registrar IS the
        receiver's catalog).

        Selection (Iceberg ``expireOlderThan`` + ``retainLast``):
        candidates are snapshots with ``committed_at < older_than`` (all
        snapshots when ``older_than`` is None); the ``keep_last`` newest
        snapshots are ALWAYS retained (default 1 — the current snapshot
        is never expired). At least one criterion is required.

        Removal is data-first, metadata-second: an expired sink's data
        files go before its manifest, and a fully expired run's
        ``_manifests/`` goes after everything else in the run dir, so a
        crash mid-way leaves the unfinished part still enumerable from
        metadata and a re-run completes the job. Every delete is per key
        and only emptied dirs are removed — no directory renames anywhere
        (object-store-safe, enforced under the no-dir-rename shim in
        tests). Time travel to surviving snapshots is unchanged; reads at
        an expired snapshot raise, as in Iceberg.

        ``keep_last_runs`` is the RUN-aware selector (the tail daemon's
        retention unit: one poll == one run of up to |sinks| snapshots):
        every snapshot of the K distinct run_ids with the newest commits
        is retained, regardless of how many sinks each run committed.

        Replay horizon caveat: expiring a (run_id, sink) also forgets
        its resume state, so replaying that exact run_id would re-publish.
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
        snaps = self.snapshots()
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
        expired_ids = {s.snapshot_id for s in expired}
        surviving_runs = {s.run_id for s in snaps if s.snapshot_id not in expired_ids}
        n = 0
        dead_runs = set()
        for s in expired:
            run_dir = os.path.join(self.out_dir, f"run_id={s.run_id}")
            if s.run_id not in surviving_runs:
                dead_runs.add(run_dir)
                continue
            # a run with surviving siblings loses this sink only
            n += gc_unreferenced(run_dir, s.sink, referenced=())
            _rmdir(os.path.join(run_dir, f"sink={s.sink}"))
            n += _remove(os.path.join(run_dir, MANIFEST_DIR, f"sink={s.sink}.json"))
        for run_dir in sorted(dead_runs):
            # everything else in the run (its sinks' data, `_metrics`, a
            # failed attempt's orphans) before its `_manifests/`
            for name in sorted(os.listdir(run_dir)):
                if name != MANIFEST_DIR:
                    n += _remove_tree(os.path.join(run_dir, name))
            n += _remove_tree(run_dir)
        return {
            "expired": [
                {"snapshot_id": s.snapshot_id, "run_id": s.run_id, "sink": s.sink}
                for s in expired
            ],
            "kept": len(snaps) - len(expired),
            "data_files_removed": n,
        }


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: str  # content-derived, stable across re-listing
    run_id: str
    sink: str
    committed_at: datetime
    sequence_number: int  # position in commit order (parent = seq - 1)


def _snapshot_id(run_id: str, sink: str) -> str:
    """The hash of the RAW (run_id, sink) pair: one id per commit key."""
    return hashlib.sha256(f"{run_id}\x00{sink}".encode()).hexdigest()[:16]


def _at(manifest: dict) -> datetime:
    return datetime.fromisoformat(manifest["committed_at"])


def _as_utc(dt: datetime) -> datetime:
    """Normalize a caller's cut-off to tz-aware UTC so it compares with
    the registrar's (always UTC) commit instants."""
    return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt


def _remove(path: str) -> int:
    """Per-key delete; a file already gone (an earlier, crashed expiry
    removed it) counts 0."""
    try:
        os.remove(path)
        return 1
    except FileNotFoundError:
        return 0


def _rmdir(path: str) -> None:
    try:
        os.rmdir(path)
    except FileNotFoundError:
        pass


def _remove_tree(top: str) -> int:
    """Per-key delete of every file under ``top``, bottom-up, each dir
    removed once emptied — or ``top`` itself, if a file. Returns files
    removed."""
    if not os.path.isdir(top):
        return _remove(top)
    n = 0
    for root, _, files in os.walk(top, topdown=False):
        n += sum(_remove(os.path.join(root, f)) for f in files)
        _rmdir(root)
    return n
