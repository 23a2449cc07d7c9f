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

Protocol (each step object-store-safe — no directory ever moves):

1. resolve the sink's CURRENT manifest (a sink with none is uncommitted
   — there is no commit pointer to swap — and fails loudly);
2. read exactly the manifest-listed files and ``coalesce`` them down to
   ``ceil(bytes / target_bytes)`` outputs — a narrow dependency, NO
   shuffle: each output task just concatenates input files;
3. move the rewritten parts into the sink directory under fresh unique
   names (single-FILE ``os.replace`` — the one primitive the publish
   layer uses);
4. verify the rewrite's parquet-footer row total equals the manifest's
   ``row_count`` (refuse and clean up otherwise — compaction must be
   content-preserving by proof, not by hope);
5. atomically swap the manifest to the new file list;
6. delete the now-unreferenced old files (per-key deletes).

Crash anywhere before step 5 leaves only UNREFERENCED new files —
invisible to every reader; a crash after 5 leaves unreferenced OLD
files. Both are garbage, not corruption: :func:`gc_unreferenced`
removes anything the manifest doesn't name, and re-running compaction
is idempotent. Lineage, row counts, and registrar snapshots are all
content-addressed to what the manifest serves, so time-travel reads
(`--read-as-of`) remain valid across a compaction — the bytes served
are identical.

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
import uuid

from pyspark.sql import SparkSession

from .manifest import publish_manifest, published_sinks, read_manifest

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _sink_dir(run_dir: str, sink: str) -> str:
    return os.path.join(run_dir, f"sink={sink}")


def gc_unreferenced(run_dir: str, sink: str) -> int:
    """Delete every data file in a COMMITTED sink's directory that its
    manifest does not name (compaction crash leftovers — referenced
    bytes are never touched). Returns files removed."""
    m = read_manifest(run_dir, sink)
    if m is None:
        raise ValueError(
            f"sink {sink!r} has no manifest in {run_dir} — gc_unreferenced "
            "is for committed sinks (resume-path cleanup of uncommitted "
            "sinks is plans/manifest.gc_sink)"
        )
    referenced = {os.path.join(run_dir, f) for f in m["files"]}
    d = _sink_dir(run_dir, sink)
    n = 0
    if os.path.isdir(d):
        for f in os.listdir(d):
            p = os.path.join(d, f)
            if f.endswith(".parquet") and os.path.isfile(p) and p not in referenced:
                os.remove(p)
                n += 1
    return n


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
    import pyarrow.parquet as pq

    m = read_manifest(run_dir, sink)
    if m is None:
        raise ValueError(
            f"sink {sink!r} has no manifest in {run_dir}: it is uncommitted, "
            "so there is nothing to compact"
        )
    old_rel = m["files"]
    old_abs = [os.path.join(run_dir, f) for f in old_rel]
    total_bytes = sum(os.path.getsize(f) for f in old_abs)
    n_out = max(1, math.ceil(total_bytes / target_bytes))
    report = {
        "sink": sink,
        "files_before": len(old_abs),
        "bytes": total_bytes,
        "row_count": m["row_count"],
    }
    if len(old_abs) <= n_out:
        report.update(files_after=len(old_abs), rewritten=False)
        return report

    # 2. narrow rewrite — no shuffle; data-file schema excludes the
    # `sink` partition column (it lives in the directory name), so the
    # rewrite reads the bare files and writes the same schema back.
    # For a SORTED layout (PipelineSpec.sort_col), pass the same
    # sort_cols + a row_group_bytes cap: Spark bin-packs input splits by
    # SIZE (not name), so merged order is otherwise arbitrary — the
    # narrow sortWithinPartitions restores in-file order, and capped row
    # groups keep zone-map pruning working INSIDE the bigger files
    # (file-level min-max alone coarsens to useless at n_out=1).
    tmp = os.path.join(run_dir, f"_compact_tmp-{uuid.uuid4().hex}")
    df = spark.read.parquet(*old_abs).coalesce(n_out)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    writer = df.write
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    writer.parquet(tmp)

    # 3. single-file moves into place under fresh unique names
    token = uuid.uuid4().hex[:12]
    new_rel: list[str] = []
    rows = 0
    for i, f in enumerate(sorted(os.listdir(tmp))):
        if not f.endswith(".parquet"):
            continue
        src = os.path.join(tmp, f)
        rows += pq.ParquetFile(src).metadata.num_rows
        rel = os.path.join(f"sink={sink}", f"compact-{token}-{i:05d}.parquet")
        os.replace(src, os.path.join(run_dir, rel))
        new_rel.append(rel)

    # 4. content-preservation proof before the swap
    if rows != m["row_count"]:
        for rel in new_rel:
            os.remove(os.path.join(run_dir, rel))
        _rm_tmp(tmp)
        raise RuntimeError(
            f"compaction rewrite of sink {sink!r} produced {rows} rows, "
            f"manifest says {m['row_count']} — refusing to swap"
        )

    # 5. the commit point; 6. old files are unreferenced from here on
    publish_manifest(run_dir, sink, new_rel, m["row_count"])
    for f in old_abs:
        os.remove(f)
    _rm_tmp(tmp)
    report.update(files_after=len(new_rel), rewritten=True)
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
    sinks = published_sinks(run_dir)
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


def _rm_tmp(tmp: str) -> None:
    if os.path.isdir(tmp):
        for f in os.listdir(tmp):
            try:
                os.remove(os.path.join(tmp, f))
            except OSError:
                pass  # best-effort: leftovers are invisible to readers
        try:
            os.rmdir(tmp)
        except OSError:
            pass
