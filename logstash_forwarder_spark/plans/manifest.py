"""The commit protocol: manifest files instead of directory moves.

Every sink a run publishes is committed the same way — the reference's
own write-temp-then-rename-one-file trick (its registrar_other.go:9-15)
applied to a table. It needs no atomic directory rename, which object
stores (S3/GCS) do not have (a "rename" there is copy-per-key + delete,
and a reader can observe a half-moved prefix); Iceberg and Delta commit
the same way:

* data files are written ONCE, under unique names, directly in their final
  partition directory — never moved;
* a commit atomically publishes ONE SMALL MANIFEST file listing exactly the
  data files that belong to the table; readers resolve files through the
  manifest (:func:`resolve_sink_paths`) and ignore everything else in the
  directory — a sink with no manifest is uncommitted and has no readable
  data;
* crash recovery = delete unreferenced files and redo — readers never saw
  them because no manifest named them.

Scope of the rename-free claim: the PUBLISH/COMMIT layer. At this layer
only single-FILE atomic swaps remain (`_publish_file`), which object-store
catalogs provide (S3 conditional PUT, GCS preconditions); directory renames
are gone — enforced in tests by a shim that makes `os.replace` raise on
directories (the ``no_dir_rename`` fixture, tests/conftest.py). The
DATA-WRITE path underneath (`df.write...parquet()`) still commits tasks
through Hadoop's FileOutputCommitter, which renames `_temporary` task
directories JVM-side; manifest gating keeps READS correct on an object
store regardless (a file is visible only once a manifest names it), but a
real object-store deployment should additionally configure a
store-appropriate output committer (e.g. the S3A magic committer) so the
data writes themselves avoid copy-and-delete renames.
"""

from __future__ import annotations

import json
import os
import uuid

MANIFEST_DIR = "_manifests"


def _publish_file(tmp: str, final: str) -> None:
    """The one primitive a store must provide: atomically swap one small
    file into place."""
    os.replace(tmp, final)


def _manifest_path(run_dir: str, sink: str) -> str:
    return os.path.join(run_dir, MANIFEST_DIR, f"sink={sink}.json")


def publish_manifest(run_dir: str, sink: str, files: list[str], row_count: int) -> str:
    """Atomically publish sink's manifest: the commit point for its data.
    `files` are paths relative to run_dir (portable across store mounts)."""
    os.makedirs(os.path.join(run_dir, MANIFEST_DIR), exist_ok=True)
    final = _manifest_path(run_dir, sink)
    tmp = os.path.join(run_dir, MANIFEST_DIR, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump({"sink": sink, "files": sorted(files), "row_count": row_count}, fh)
    _publish_file(tmp, final)
    return final


def read_manifest(run_dir: str, sink: str) -> dict | None:
    try:
        with open(_manifest_path(run_dir, sink)) as fh:
            return json.load(fh)
    except OSError:
        return None


def resolve_sink_paths(run_dir: str, sinks) -> list[str]:
    """Reader-side resolution: the paths a scan must name to see exactly
    the committed files of ``sinks``. A sink with no manifest (never
    committed) or an empty one contributes nothing. When the manifest
    names exactly the visible files in the sink directory — the normal
    case — the directory itself stands for them: one path per sink keeps a
    multi-sink read under Spark's parallel-listing threshold
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``, 32 paths),
    which would otherwise cost a listing job per read. When anything else
    is there (orphans of a crashed attempt, or of a crashed compaction),
    the listed files are named one by one so the orphans stay invisible."""
    out: list[str] = []
    for sink in sinks:
        m = read_manifest(run_dir, sink)
        if m is None or not m["files"]:
            continue
        d = os.path.join(run_dir, f"sink={sink}")
        visible = {
            os.path.join(f"sink={sink}", f)
            for f in os.listdir(d)
            if not f.startswith((".", "_"))
        }
        if visible == set(m["files"]):
            out.append(d)
        else:
            out.extend(os.path.join(run_dir, f) for f in m["files"])
    return out


def published_sinks(run_dir: str) -> list[str]:
    """Sinks of a run that have a manifest, sorted."""
    mdir = os.path.join(run_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        f[len("sink=") : -len(".json")]
        for f in os.listdir(mdir)
        if f.startswith("sink=") and f.endswith(".json")
    )


def list_data_files(run_dir: str, sink: str) -> list[str]:
    """All parquet files currently in a sink's partition dir, relative to
    run_dir. After `gc_sink` + one staging write these are exactly the new
    attempt's files."""
    d = os.path.join(run_dir, f"sink={sink}")
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(f"sink={sink}", f)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def gc_sink(run_dir: str, sink: str) -> int:
    """Resume-time garbage collection for an UNCOMMITTED sink: delete its
    manifest (if a crash landed between manifest publish and checkpoint —
    the registrar, not the manifest, is the source of truth for resume) and
    every data file in its partition dir (none are referenced). Per-key
    deletes only — object-store-safe. Returns files removed."""
    n = 0
    mp = _manifest_path(run_dir, sink)
    if os.path.exists(mp):
        os.remove(mp)
        n += 1
    d = os.path.join(run_dir, f"sink={sink}")
    if os.path.isdir(d):
        for f in os.listdir(d):
            p = os.path.join(d, f)
            if os.path.isfile(p):
                os.remove(p)
                n += 1
    return n
