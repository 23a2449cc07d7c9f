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
``manifest.committed``, in its one commit order (``committed_at``, then
run id), which the snapshot log, expiry and ``pipeline.read_table``
share. A snapshot's id is its run id. Only the tail's resume point is
ordered otherwise: by poll number, which a clock step cannot reorder.
Expired runs are deleted by ``manifest.gc_run``, the package's one GC.

Crucially the commit ordering is the *reverse* of the reference's bug
surface: the reference acks then writes state (duplicate window on crash,
SURVEY §3.4); here the data files and ``_metrics`` land first and the
manifest swap is at once the ack, the state write and the offsets write,
so there is no window between them. A run with no manifest is uncommitted: its files
are garbage to delete and redo, so routed-row delivery is exactly-once,
and a tail poll that crashed before its swap is redone from the previous
run's offsets.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass
from datetime import datetime

import pyarrow as pa

from .manifest import (
    RUN_MANIFEST,
    as_utc,
    commit_instant,
    committed,
    gc_run,
    publish_run,
    read_run,
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

    def committed_sinks(self, run_id: str) -> set[str]:
        """O-X3 resume input: the sinks the run's manifest lists — one
        file opened, nothing listed."""
        runs = committed(self.out_dir, run_id)
        return {e["sink"] for _, _, m in runs for e in m["sinks"]}

    def lineage(self, run_id: str | None = None) -> pa.Table:
        return pa.Table.from_pylist(
            [
                {"run_id": r, "sink": e["sink"], **row, "committed_at": at}
                for r, _, m in committed(self.out_dir, run_id)
                for at in [commit_instant(m)]
                for e in m["sinks"]
                for row in e["lineage"]
            ],
            schema=_ARROW_SCHEMA,
        )

    def tail(self) -> dict | None:
        """The ``tail`` block with the highest poll number — where a
        restarted tail loop resumes — or None. The poll number, not the
        wall-clock ``committed_at``, orders polls: a clock stepped back
        between two polls must not send a restart to the older one."""
        last = _last_poll(committed(self.out_dir))
        return last[1] if last else None

    # -- Iceberg-style snapshot surface ---------------------------------------
    #
    # Every run manifest IS a snapshot (Iceberg: each commit swaps in a new
    # metadata.json listing the live data files; here: each single-file
    # swap commits one run, whose data files the manifest names). A
    # snapshot's id is its run id and its instant the manifest's
    # committed_at, both of which compaction re-publishes unchanged; the
    # log's order is ``manifest.committed``'s, the one commit order, which
    # the time-travel read ``pipeline.read_table(as_of=)`` takes too. On a
    # real deployment the same interface binds to Iceberg's snapshot log;
    # this keeps the semantics testable without the jar.

    def snapshots(self) -> list[Snapshot]:
        """All commits in commit order, one per run."""
        return [
            Snapshot(r, tuple(e["sink"] for e in m["sinks"]), commit_instant(m), i)
            for i, (r, _, m) in enumerate(committed(self.out_dir))
        ]

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
        expired), and so is the run whose ``tail`` block has the highest
        poll number, which holds the tail loop's offsets. At least one
        criterion is required.

        Removal is data-first, metadata-second: everything in an expired
        run's directory goes before its ``_manifest.json`` (two calls of
        ``manifest.gc_run``: keep the manifest, then keep nothing), so a
        crash mid-way leaves the unfinished run still enumerable and a
        re-run completes the job. Every delete is per key and only emptied
        dirs are removed — no directory renames anywhere (object-store-safe,
        enforced under the no-dir-rename shim in tests). Time travel to
        surviving snapshots is unchanged; a read as of an expired run
        raises, as in Iceberg.

        Replay horizon caveat: expiring a run also forgets its resume
        state, so replaying that exact run_id would re-publish. The tail
        loop's poll run ids only grow, so this concerns manually reused
        run ids only."""
        if keep_last is None and older_than is None:
            raise ValueError("expire_snapshots: pass keep_last and/or older_than")
        if keep_last is not None and keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        runs = committed(self.out_dir)
        last = _last_poll(runs)
        protected = {r for r, _, _ in runs[-(keep_last or 1) :]}
        protected |= {last[0]} if last else set()
        cut = as_utc(older_than) if older_than is not None else None
        expired = [
            (r, run_dir)
            for r, run_dir, m in runs
            if r not in protected and (cut is None or commit_instant(m) < cut)
        ]
        # everything in the run (its sinks' data, `_metrics`, a failed
        # attempt's orphans) before its manifest
        n = sum(gc_run(d, [RUN_MANIFEST]) + gc_run(d) for _, d in expired)
        return {
            "expired": [r for r, _ in expired],
            "kept": len(runs) - len(expired),
            "data_files_removed": n,
        }


@dataclass(frozen=True)
class Snapshot:
    run_id: str  # the snapshot's id
    sinks: tuple[str, ...]  # the run's non-empty sinks
    committed_at: datetime
    sequence_number: int  # position in commit order (parent = seq - 1)


def _last_poll(runs) -> tuple[str, dict] | None:
    """(run_id, tail block) of the committed ``runs``' highest poll, or
    None when none has a ``tail`` block."""
    return max(
        ((r, m["tail"]) for r, _, m in runs if "tail" in m),
        key=lambda t: t[1]["poll"],
        default=None,
    )
