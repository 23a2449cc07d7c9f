"""Small-file compaction for published sinks — the Iceberg
``rewrite_data_files`` action on the manifest commit protocol.

Why it exists: the live-tail daemon commits one run per poll and the
streaming spooler one per micro-batch, so a long-lived table accretes
thousands of KB-sized parquet files; at 100 TB the scan's task count and
the store's LIST/GET traffic are then dominated by file COUNT, not
bytes. Compaction rewrites a committed sink's many small files into few
target-sized ones and publishes the change with the SAME atomic
single-file manifest swap the pipeline commits through
(plans/manifest.py) — readers resolve files via the manifest, so they
see the old file set or the new one, never a mix, with zero read
downtime.

Protocol (each step object-store-safe — the one rename is the manifest
swap):

1. resolve the sink's entry in the run's CURRENT manifest (a sink with
   none is uncommitted — there is no commit pointer to swap — and fails
   loudly), and delete every file of the run that the manifest does not
   name (a crashed compaction's leftovers);
2. read exactly the manifest-listed files, ``coalesce`` them down to
   ``ceil(bytes / target_bytes)`` partitions — a narrow dependency, NO
   shuffle: each output task just concatenates input files — and write
   them through the publish's own writer
   (:func:`~.manifest.write_sink_files`): each task writes its file
   straight to a final, unique name in the sink directory and returns
   its statistics;
3. prove the rewrite content-preserving from those statistics, with no
   footer re-read: their per-source fold — the same fold that built the
   manifest — must equal the sink's ``sources`` and their row total its
   ``row_count`` (otherwise the new files are deleted and the swap
   refused — compaction must be content-preserving by proof, not by
   hope);
4. atomically re-publish the run manifest with this sink's files
   replaced — the manifest is the run's one commit record, so the swap
   carries the sink's ``lineage``, the other sinks, the tail offsets and
   the run's ``committed_at`` over unchanged;
5. delete the now-unreferenced old files (per-key deletes), with the
   same GC as step 1.

Crash anywhere before step 4 leaves only UNREFERENCED new files —
invisible to every reader; a crash after 4 leaves unreferenced OLD
files. Both are garbage, not corruption: the next compaction of the sink
removes anything the manifest doesn't name before it does anything else,
and re-running compaction is idempotent. The registrar's snapshot of the
run (id, instant, lineage) is what the manifest records, unchanged by
step 4, so time-travel reads (`--read-as-of`) remain valid across a
compaction — the bytes served are identical.

Both GC steps are the package's one GC, ``manifest.gc_run``, keeping
the current manifest's names (``manifest.run_files``: its files, the
manifest and ``_metrics``); resume, the tail restart and expiry call the
same function with their own names to keep.

Reference analog: the spooler's "flush small batches, let downstream
consolidate" contract (spooler.go's size/timeout flush); this is the
consolidation half the forwarder leaves to its receiver.

Deliberate boundary: compaction is PER RUN. Merging many tail-poll runs
into one consolidated run would erase run_id — the exactly-once replay
identity the registrar keys resume, lineage, and snapshot history on —
so cross-run consolidation is out by design; the per-poll runs are
already one file each, and a reader aggregating across runs pays one
LIST per run dir, not per file.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .manifest import (
    find_sink,
    fold_stats,
    gc_run,
    publish_run,
    read_run,
    resolve_sink_paths,
    run_files,
    sink_entry,
    sink_sources,
    write_sink_files,
)

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def compact_sink(
    spark: SparkSession,
    run_dir: str,
    sink: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    row_group_bytes: int | None = None,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite one committed sink to ≈``target_bytes`` files (module
    docstring has the full protocol). Returns an action report; a no-op
    (already at or below the target file count) rewrites nothing."""
    run = read_run(run_dir)
    m = find_sink(run, sink)
    if m is None:
        raise ValueError(
            f"sink {sink!r} is not in a committed manifest of {run_dir}: "
            "it is uncommitted, so there is nothing to compact"
        )
    gc_run(run_dir, run_files(run))
    total_bytes = sum(os.path.getsize(os.path.join(run_dir, f)) for f in m["files"])
    n_out = max(1, math.ceil(total_bytes / target_bytes))
    report = {
        "sink": sink,
        "files_before": len(m["files"]),
        "bytes": total_bytes,
        "row_count": m["row_count"],
    }
    if len(m["files"]) <= n_out:
        report.update(files_after=len(m["files"]), rewritten=False)
        return report

    # 2. narrow rewrite — no shuffle. The data files lack the `sink`
    # column (it is the directory name), which the writer routes on.
    # For a SORTED layout (PipelineSpec.sort_col), pass the same
    # sort_cols + a row_group_bytes cap: Spark bin-packs input splits by
    # SIZE (not name), so merged order is otherwise arbitrary — the
    # narrow sortWithinPartitions restores in-file order, and capped row
    # groups keep zone-map pruning working INSIDE the bigger files
    # (file-level min-max alone coarsens to useless at n_out=1). The cap
    # becomes rows per row group at the input's bytes per row.
    df = (
        spark.read.parquet(*resolve_sink_paths(run_dir, [m]))
        .select("*", F.lit(sink).alias("sink"))
        .coalesce(n_out)
    )
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    rows_per_group = None
    if row_group_bytes is not None:
        rows_per_group = max(1, row_group_bytes * m["row_count"] // total_bytes)
    # the rewrite keeps the replaced files' schema: a Spark read of parquet
    # makes every column nullable, which would drop the NOT NULL flags
    schema = pq.read_schema(os.path.join(run_dir, m["files"][0]))
    stats = write_sink_files(df, run_dir, rows_per_group, schema)
    new_files = [r["file"] for r in fold_stats(stats, ["sink", "file"], []).get(sink, [])]
    sources = sink_sources(stats).get(sink, [])

    # 3. content-preservation proof before the swap (keyed by source:
    # manifests of older writers order a null source differently)
    rows = sum(s["row_count"] for s in sources)
    same = {s["source"]: s for s in sources} == {s["source"]: s for s in m["sources"]}
    if not same or rows != m["row_count"]:
        gc_run(run_dir, run_files(run))
        raise RuntimeError(
            f"compaction rewrite of sink {sink!r} produced {rows} rows, "
            f"manifest says {m['row_count']}; per-source statistics "
            f"{'match' if same else 'differ'} — refusing to swap"
        )

    # 4. the commit point: the run manifest with this sink's files
    # replaced, keeping its lineage, the run's instant and everything else
    # the manifest records; 5. old files are unreferenced from here on
    new = sink_entry(sink, new_files, sources, m["lineage"])
    run["sinks"] = [new if e["sink"] == sink else e for e in run["sinks"]]
    publish_run(run_dir, run["sinks"], run.get("tail"), run["committed_at"])
    gc_run(run_dir, run_files(run))
    report.update(files_after=len(new_files), rewritten=True)
    return report


def compact_run(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    row_group_bytes: int | None = None,
    sort_cols: list[str] | None = None,
) -> list[dict]:
    """Compact every committed sink of a run."""
    run_dir = os.path.join(out_dir, f"run_id={run_id}")
    sinks = [e["sink"] for e in (read_run(run_dir) or {}).get("sinks", ())]
    if not sinks:
        raise ValueError(f"{run_dir} has no committed sink — nothing to compact")
    return [
        compact_sink(
            spark,
            run_dir,
            s,
            target_bytes,
            row_group_bytes=row_group_bytes,
            sort_cols=sort_cols,
        )
        for s in sinks
    ]
