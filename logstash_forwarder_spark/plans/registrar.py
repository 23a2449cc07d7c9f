"""The registrar reborn — checkpoint/lineage metadata over the run
manifests (O-X1..O-X4).

The reference keeps its shipped state in one record, written with one
write-temp-then-atomic-rename per acked batch (its registrar.go:38-51
and registrar_other.go:9-15), only after the ack (publisher1.go:126).
Here each run's manifest (plans/manifest.py) is that record: one
atomically swapped file names every sink's data files, carries their
per-source statistics and lineage rows, the run's ``committed_at`` and,
for a tail poll, the source offsets after the poll. ``run_pipeline``
publishes it (``manifest.publish_run``, the package's only commit
writer) and everything here reads it — Delta Lake and Iceberg also
commit many files with one atomic metadata write.

The map stays keyed: a run's commit is its own ``run_id=R/_manifest.json``,
so the resume lookup opens that one file — O(that run), not O(history)
— and every read enumerates the table's commits through
``manifest.committed``, the enumerator ``pipeline.read_table`` shares.

Crucially the commit ordering is the *reverse* of the reference's bug
surface: the reference acks then writes state (duplicate window on crash,
SURVEY §3.4); here the data files land first and the manifest swap is at
once the ack, the state write and the offsets write, so there is no
window between them. A run with no manifest is uncommitted: its files
are garbage to delete and redo, so routed-row delivery is exactly-once,
and a tail poll that crashed before its swap is redone from the previous
run's offsets.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .manifest import (
    RUN_MANIFEST,
    committed,
    publish_run,
    read_run,
    resolve_sink_paths,
    sink_entry,
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
    (``<out>/_checkpoint``, by convention): one manifest per run under
    ``<out>/run_id=*/_manifest.json``. Nothing is written at ``path``
    itself."""

    def __init__(self, path: str):
        self.path = path
        self.out_dir = os.path.dirname(os.path.abspath(path))

    def commit(
        self,
        run_id: str,
        sink: str,
        lineage: list[LineageRow],
        *,
        files: list[str] = (),
        sources: list[dict] = (),
    ) -> str:
        """A per-sink commit into ``run_id``'s manifest: set the sink's
        entry and swap the manifest back — one read, one swap, no
        listing. ``run_pipeline`` commits a whole run with one swap and
        does not call this."""
        run_dir = os.path.join(self.out_dir, f"run_id={run_id}")
        run = read_run(run_dir) or {"sinks": []}
        entries = [e for e in run["sinks"] if e["sink"] != sink]
        entries.append(sink_entry(sink, files, sources, [asdict(r) for r in lineage]))
        return publish_run(run_dir, entries, run.get("tail"))

    def _runs(self) -> list[tuple[datetime, str, str, dict]]:
        """(committed_at, snapshot_id, run_id, manifest) of every
        committed run, in commit order (``snapshot_id`` breaks
        same-microsecond ties, deterministic across re-listing)."""
        return sorted(
            ((_at(m), _snapshot_id(r), r, m) for r, _, m in committed(self.out_dir)),
            key=lambda t: t[:2],
        )

    def committed_sinks(self, run_id: str) -> set[str]:
        """O-X3 resume input: the sinks the run's manifest lists — one
        file opened, nothing listed."""
        runs = committed(self.out_dir, run_id)
        return {e["sink"] for _, _, m in runs for e in m["sinks"]}

    def lineage(self, run_id: str | None = None) -> pa.Table:
        return pa.Table.from_pylist(
            [
                {"run_id": r, "sink": e["sink"], **row, "committed_at": _at(m)}
                for r, _, m in committed(self.out_dir, run_id)
                for e in m["sinks"]
                for row in e["lineage"]
            ],
            schema=_ARROW_SCHEMA,
        )

    def tail(self) -> dict | None:
        """The ``tail`` block of the newest committed run that has one —
        where a restarted tail loop resumes — or None."""
        tails = [m["tail"] for *_, m in self._runs() if "tail" in m]
        return tails[-1] if tails else None

    # -- Iceberg-style snapshot surface ---------------------------------------
    #
    # Every run manifest IS a snapshot (Iceberg: each commit swaps in a new
    # metadata.json listing the live data files; here: each single-file
    # swap commits one run, whose data files the manifest names). Snapshot
    # listing and time-travel reads are therefore pure metadata operations
    # — no data file is touched until the final scan, and the as-of filter
    # selects WHOLE committed runs (each resolved through its manifest),
    # mirroring Iceberg's manifest pruning. Snapshot identity (the hash of
    # the raw run_id) and instant (the manifest's committed_at) survive
    # compaction, which re-publishes both unchanged. On a real deployment
    # the same interface binds to Iceberg's snapshot log; this keeps the
    # semantics testable without the jar.

    def snapshots(self) -> list[Snapshot]:
        """All commits in commit order, one per run."""
        return [
            Snapshot(sid, r, tuple(e["sink"] for e in m["sinks"]), at, i)
            for i, (at, sid, r, m) in enumerate(self._runs())
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
        """Time-travel read of a run's published data: the run is visible
        only if its commit is <= the requested snapshot (by id) or
        timestamp — Iceberg `VERSION AS OF` / `TIMESTAMP AS OF`, at run
        granularity. Pure metadata filter + parquet scan of the run's
        manifest-listed files (basePath keeps the sink partition column).

        `snapshot_id` is the precise mechanism: it resolves to a point in
        the GLOBAL commit order (so an id from any run — e.g. one listed
        by --snapshots — defines the cut). `as_of` filters on
        committed_at, each run commit's own instant; a commit at exactly
        `as_of` is included."""
        runs = self._runs()
        seen = [(i, at, m) for i, (at, _, r, m) in enumerate(runs) if r == run_id]
        if snapshot_id is not None:
            cut = next(
                (i for i, (_, sid, _, _) in enumerate(runs) if sid == snapshot_id),
                None,
            )
            if cut is None:
                raise ValueError(f"unknown snapshot_id {snapshot_id!r}")
            seen = [t for t in seen if t[0] <= cut]
        if as_of is not None:
            seen = [t for t in seen if t[1] <= _as_utc(as_of)]
        run_dir = os.path.join(out_dir, f"run_id={run_id}")
        # the visible run exposes exactly its manifest-listed files
        paths = resolve_sink_paths(run_dir, seen[0][2]["sinks"]) if seen else []
        if not paths:
            # Iceberg semantics: reading before the first visible snapshot
            # is an error, not an empty relation of guessed schema
            raise ValueError(
                f"no committed data visible for run {run_id!r} at the "
                "requested snapshot/timestamp"
            )
        return spark.read.option("basePath", run_dir).parquet(*paths)

    # -- maintenance (Iceberg parity: snapshot expiry + data GC) --------------

    def expire_snapshots(
        self,
        *,
        keep_last: int | None = None,
        older_than: "datetime | None" = None,
    ) -> dict:
        """Iceberg ``expire_snapshots`` for this layout: at a poll-per-run
        tail cadence the snapshot log grows without bound, and a retention
        policy is how a log pipeline ages data out (the reference forwards
        to a receiver that owns retention; here the registrar IS the
        receiver's catalog).

        Selection (Iceberg ``expireOlderThan`` + ``retainLast``), in whole
        runs: candidates are runs with ``committed_at < older_than`` (all
        runs when ``older_than`` is None); the ``keep_last`` newest runs
        are ALWAYS retained (default 1 — the current snapshot is never
        expired), and so is the newest run with a ``tail`` block, which
        holds the tail loop's offsets. At least one criterion is required.

        Removal is data-first, metadata-second: everything in an expired
        run's directory goes before its ``_manifest.json``, so a crash
        mid-way leaves the unfinished run still enumerable and a re-run
        completes the job. Every delete is per key and only emptied dirs
        are removed — no directory renames anywhere (object-store-safe,
        enforced under the no-dir-rename shim in tests). Time travel to
        surviving snapshots is unchanged; reads at an expired snapshot
        raise, as in Iceberg.

        Replay horizon caveat: expiring a run also forgets its resume
        state, so replaying that exact run_id would re-publish. The tail
        loop's poll run ids only grow, so this concerns manually reused
        run ids only."""
        if keep_last is None and older_than is None:
            raise ValueError("expire_snapshots: pass keep_last and/or older_than")
        if keep_last is not None and keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        runs = self._runs()
        tailed = [r for _, _, r, m in runs if "tail" in m]
        protected = {r for _, _, r, _ in runs[-(keep_last or 1) :]} | set(tailed[-1:])
        cut = _as_utc(older_than) if older_than is not None else None
        expired = [
            (sid, r)
            for at, sid, r, _ in runs
            if r not in protected and (cut is None or at < cut)
        ]
        n = 0
        for _, r in expired:
            run_dir = os.path.join(self.out_dir, f"run_id={r}")
            # everything else in the run (its sinks' data, `_metrics`, a
            # failed attempt's orphans) before its manifest
            for name in sorted(os.listdir(run_dir)):
                if name != RUN_MANIFEST:
                    n += _remove_tree(os.path.join(run_dir, name))
            n += _remove_tree(run_dir)
        return {
            "expired": [{"snapshot_id": sid, "run_id": r} for sid, r in expired],
            "kept": len(runs) - len(expired),
            "data_files_removed": n,
        }


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: str  # content-derived, stable across re-listing
    run_id: str
    sinks: tuple[str, ...]  # the run's non-empty sinks
    committed_at: datetime
    sequence_number: int  # position in commit order (parent = seq - 1)


def _snapshot_id(run_id: str) -> str:
    """The hash of the RAW run_id: one id per commit key."""
    return hashlib.sha256(run_id.encode()).hexdigest()[:16]


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


def _remove_tree(top: str) -> int:
    """Per-key delete of every file under ``top``, bottom-up, each dir
    removed once emptied — or ``top`` itself, if a file. Returns files
    removed."""
    if not os.path.isdir(top):
        return _remove(top)
    n = 0
    for root, _, files in os.walk(top, topdown=False):
        n += sum(_remove(os.path.join(root, f)) for f in files)
        try:
            os.rmdir(root)
        except FileNotFoundError:
            pass
    return n
