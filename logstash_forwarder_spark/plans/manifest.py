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

A publish renames nothing but the one-file swap: data files are written
by the pipeline's task-side writer straight to their final names
(pipeline.py), so the only atomic operation a publish needs is the
single-FILE swap (`publish_file`), which object-store catalogs provide
(S3 conditional PUT, GCS preconditions). Tests enforce it with a shim
that makes `os.replace` raise on directories (the ``no_dir_rename``
fixture, tests/conftest.py).
"""

from __future__ import annotations

import json
import os
import uuid

MANIFEST_DIR = "_manifests"


def publish_file(final: str, data) -> str:
    """The one primitive a store must provide: atomically swap one small
    file into place — the package's only write-temp-then-rename, behind
    manifests, registrar commits, the registrar index and the tail state.

    ``data`` (bytes-like) goes to a temp file in ``final``'s directory
    named ``.<basename>.<uuid>.tmp``: no ``*.parquet`` or ``*.json`` glob
    (DuckDB's matches dot-files) can see one a crash leaves behind. A
    write or swap that raises removes its temp file."""
    d, base = os.path.split(final)
    tmp = os.path.join(d, f".{base}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return final


def _manifest_path(run_dir: str, sink: str) -> str:
    return os.path.join(run_dir, MANIFEST_DIR, f"sink={sink}.json")


def publish_manifest(
    run_dir: str, sink: str, files: list[str], sources: list[dict]
) -> str:
    """Atomically publish sink's manifest: the commit point for its data.
    `files` are paths relative to run_dir (portable across store mounts);
    `sources` are the sink's per-source statistics (``source``,
    ``row_count``, ``token_total``, ``max_tokens``), from which the run's
    ``_metrics`` is built without re-reading data. ``row_count`` is their
    sum."""
    os.makedirs(os.path.join(run_dir, MANIFEST_DIR), exist_ok=True)
    doc = {
        "sink": sink,
        "files": sorted(files),
        "row_count": sum(s["row_count"] for s in sources),
        "sources": sources,
    }
    return publish_file(_manifest_path(run_dir, sink), json.dumps(doc).encode())


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
