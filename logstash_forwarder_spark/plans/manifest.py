"""The commit protocol: one manifest per run instead of directory moves.

Every run is committed the same way — the reference's own
write-temp-then-rename-one-file trick (its registrar_other.go:9-15)
applied to a table. It needs no atomic directory rename, which object
stores (S3/GCS) do not have (a "rename" there is copy-per-key + delete,
and a reader can observe a half-moved prefix); Delta Lake and Iceberg
commit many files the same way, with one atomic metadata write:

* data files are written ONCE, under unique names, directly in their final
  ``sink=S/`` directory — never moved;
* the commit atomically publishes ONE SMALL MANIFEST per run,
  ``run_id=R/_manifest.json`` (:func:`publish_run`, the package's only
  commit writer), listing each non-empty sink's files, row count,
  per-source statistics and lineage rows, the run's commit instant and,
  for a tail poll, the tail offsets after the poll; readers resolve files
  through the manifest (:func:`resolve_sink_paths`) and ignore everything
  else in the directory — a run with no manifest is uncommitted and has
  no readable data;
* crash recovery = delete the uncommitted run's files and redo it —
  readers never saw them because no manifest named them.

The manifest is the one thing that decides what a run directory holds
and when it counts. Everything else in the run — its data files and its
``_metrics`` — is written before the swap, so a run is exactly one
:func:`publish_file` call. One GC, :func:`gc_run`, deletes whatever a
given set of names does not list: resume, the tail restart, compaction
and expiry each pass their own set.

Every reader takes the commit order from one place, :func:`committed`
(by ``committed_at``, then run id): resume, lineage, the snapshot log
and expiry (plans/registrar.py), the tail loop's offsets (run.py) and
the table read, current or as of a run (``pipeline.read_table``). The
manifest's name has no ``=``, so a hive-partition-discovering glob
reader (DuckDB's ``read_json('run_id=*/_manifest.json')``) derives only
``run_id`` from its path, and the document has no key of that name.

No commit in the package renames anything but the one-file swap. Every
committed data file — a publish's and a compaction's — is written by ONE
writer body (:func:`write_sink_batches`; task-side through
:func:`write_sink_files`, or in the driver for driver-sized input)
straight to its final, unique name and returned with its statistics,
so the only atomic
operation any commit needs is the single-FILE swap (`publish_file`),
which object-store catalogs provide (S3 conditional PUT, GCS
preconditions). No commit path runs a Spark ``DataFrameWriter`` (whose
Hadoop committer moves task output out of ``_temporary``). Tests
enforce the rule with a shim that lets a rename move only a
``publish_file`` temp file onto its target (the ``no_dir_rename``
fixture, tests/conftest.py).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

RUN_MANIFEST = "_manifest.json"
# the run's north-rule metrics, written before its manifest swap
METRICS_FILE = os.path.join("_metrics", "part-00000.parquet")

# what the writer returns: one row per (sink, file, part_id, source)
FILE_STATS = pa.schema(
    [
        ("sink", pa.string()),
        ("file", pa.string()),
        ("part_id", pa.int32()),
        ("source", pa.string()),
        ("row_count", pa.int64()),
        ("token_total", pa.int64()),
        ("max_tokens", pa.int32()),
    ]
)
_STATS_KEYS = ["sink", "part_id", "source"]
# a manifest's per-source statistics, beside ``source``
SOURCE_STATS = ["row_count", "token_total", "max_tokens"]


def publish_file(final: str, data) -> str:
    """The one primitive a store must provide: atomically swap one small
    file into place — the package's only write-temp-then-rename, behind
    run manifests and the signature store's sidecar.

    ``data`` (bytes-like) goes to a temp file in ``final``'s directory
    named ``.<basename>.<uuid>.tmp``: no ``*.parquet`` or ``*.json`` glob
    (DuckDB's matches dot-files) can see one a crash leaves behind. A
    write or swap that raises removes its temp file. ``final``'s directory
    is created on its first file."""
    d, base = os.path.split(final)
    tmp = os.path.join(d, f".{base}.{uuid.uuid4().hex}.tmp")
    try:
        try:
            fh = open(tmp, "wb")
        except FileNotFoundError:
            os.makedirs(d, exist_ok=True)
            fh = open(tmp, "wb")
        with fh:
            fh.write(data)
        os.replace(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return final


def write_sink_files(
    df: DataFrame,
    run_dir: str,
    row_group_size: int | None = None,
    schema: pa.Schema | None = None,
) -> pa.Table:
    """Write ``df``'s rows — routed rows: ``sink``, ``part_id``,
    ``source`` and ``n_tok`` among their columns — as data files in their
    final ``sink=S/`` directories under ``run_dir``, in ONE Spark job, and
    return the writers' statistics (:data:`FILE_STATS`, one row per
    (sink, file, part_id, source)). Nothing is renamed, listed or re-read;
    the files stay invisible until a manifest names them.
    ``row_group_size`` caps the rows per parquet row group; None writes
    one row group per Arrow batch. ``schema`` (the data files' schema,
    without ``sink``) casts every batch to it — nullability flags
    included, which a Spark read of parquet loses."""
    token = uuid.uuid4().hex[:12]
    run_dir = os.path.abspath(run_dir)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"part-{token}-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"
        yield from write_sink_batches(
            batches, run_dir, name, row_group_size, schema
        ).to_batches()

    return df.mapInArrow(kernel, from_arrow_schema(FILE_STATS)).toArrow()


def write_sink_batches(
    batches,
    run_dir: str,
    name: str,
    row_group_size: int | None = None,
    schema: pa.Schema | None = None,
) -> pa.Table:
    """The package's one data-file writer body, run by the Spark task
    kernel of :func:`write_sink_files` and, for driver-sized input, by the
    driver itself (``pipeline.run_pipeline``'s local backend). Writes the
    routed ``batches`` for each sink with pyarrow straight to their final
    name ``sink=S/<name>`` under ``run_dir``, in the batches' schema (or
    ``schema``) minus ``sink``. Only after every writer is closed does it
    return the files' statistics (:data:`FILE_STATS`): a writer that
    raises returns nothing, so its partial file is an orphan no manifest
    names. Task-side, ``name`` carries the task attempt id, unique in the
    application, so no two attempts — retried, speculative or from a
    re-run stage — share a file."""
    writers: dict[str, pq.ParquetWriter] = {}
    stats: list[pa.Table] = []
    try:
        for b in batches:
            sinks = b.column("sink")
            data = b.select([c for c in b.schema.names if c != "sink"])
            if schema is not None:
                data = data.cast(schema)
            for sink in pc.unique(sinks).to_pylist():
                if sink not in writers:
                    d = os.path.join(run_dir, f"sink={sink}")
                    os.makedirs(d, exist_ok=True)
                    writers[sink] = pq.ParquetWriter(
                        os.path.join(d, name), data.schema
                    )
                writers[sink].write_batch(
                    data.filter(pc.equal(sinks, sink)),
                    row_group_size=row_group_size,
                )
            stats.append(
                pa.Table.from_batches([b.select([*_STATS_KEYS, "n_tok"])])
                .group_by(_STATS_KEYS)
                .aggregate([([], "count_all"), ("n_tok", "sum"), ("n_tok", "max")])
            )
    finally:
        for w in writers.values():
            w.close()
    if not stats:
        return FILE_STATS.empty_table()
    t = pa.concat_tables(stats).group_by(_STATS_KEYS).aggregate(
        [("count_all", "sum"), ("n_tok_sum", "sum"), ("n_tok_max", "max")]
    )
    return pa.table(
        {
            "sink": t["sink"],
            "file": [os.path.join(f"sink={s}", name) for s in t["sink"].to_pylist()],
            "part_id": t["part_id"],
            "source": t["source"],
            "row_count": t["count_all_sum"],
            "token_total": t["n_tok_sum_sum"],
            "max_tokens": t["n_tok_max_max"],
        }
    ).cast(FILE_STATS)


def fold_stats(
    stats: pa.Table, keys: list[str], cols: list[str]
) -> dict[str, list[dict]]:
    """The writer's statistics summed per ``keys`` (``max_tokens``: max;
    nulls skipped, as in SQL), each under its own name, sorted, as rows
    per sink."""
    aggs = [(c, "max" if c == "max_tokens" else "sum") for c in cols]
    g = stats.group_by(keys).aggregate(aggs).sort_by([(k, "ascending") for k in keys])
    names = {f"{c}_{f}": c for c, f in aggs}
    g = g.rename_columns([names.get(n, n) for n in g.column_names])
    out: dict[str, list[dict]] = {}
    for r in g.to_pylist():
        out.setdefault(r["sink"], []).append(r)
    return out


def sink_sources(stats: pa.Table) -> dict[str, list[dict]]:
    """Each sink's ``sources`` (per-source statistics, sorted by source)
    from the writer's statistics — the one fold a publish builds its run
    manifest with and a compaction proves its rewrite with."""
    return {
        sink: [{k: r[k] for k in ["source", *SOURCE_STATS]} for r in rows]
        for sink, rows in fold_stats(stats, ["sink", "source"], SOURCE_STATS).items()
    }


def sink_entry(sink: str, files, sources: list[dict], lineage=()) -> dict:
    """One sink's entry in a run manifest: its ``files`` (relative to the
    run dir, portable across store mounts), its ``row_count``, its
    per-source statistics (``source``, ``row_count``, ``token_total``,
    ``max_tokens``), from which the run's ``_metrics`` is built without
    re-reading data, and its ``lineage`` rows (``partition_id``,
    ``row_count``, ``token_total``: per input partition)."""
    return {
        "sink": sink,
        "files": sorted(files),
        "row_count": sum(s["row_count"] for s in sources),
        "sources": sources,
        "lineage": list(lineage),
    }


def publish_run(
    run_dir: str,
    sinks: list[dict],
    tail: dict | None = None,
    committed_at: str | None = None,
) -> str:
    """Atomically publish the run's manifest ``_manifest.json``: the commit
    point for all its data, and its one commit record. ``sinks`` are
    :func:`sink_entry` dicts; ``tail`` (a tail poll's offsets) is stored
    as given; ``committed_at`` (ISO 8601, UTC) is the commit instant —
    now, unless a re-publish (a compaction) keeps the original. The
    document has no ``run_id`` key: that is the directory's hive
    partition value."""
    doc = {
        "sinks": sorted(sinks, key=lambda e: e["sink"]),
        "committed_at": committed_at
        or datetime.now(timezone.utc).isoformat(timespec="microseconds"),
    }
    if tail is not None:
        doc["tail"] = tail
    return publish_file(os.path.join(run_dir, RUN_MANIFEST), json.dumps(doc).encode())


def read_run(run_dir: str) -> dict | None:
    """The run's manifest, or None when the run is uncommitted."""
    try:
        with open(os.path.join(run_dir, RUN_MANIFEST)) as fh:
            return json.load(fh)
    except OSError:
        return None


def find_sink(manifest: dict | None, sink: str) -> dict | None:
    """``sink``'s entry in a run manifest, or None."""
    entries = manifest["sinks"] if manifest else ()
    return next((e for e in entries if e["sink"] == sink), None)


def resolve_sink_paths(run_dir: str, entries) -> list[str]:
    """Reader-side resolution: the paths a scan must name to see exactly
    the committed files of the sink ``entries`` (from the run's manifest).
    When an entry names exactly the visible files in its sink directory —
    the normal case — the directory itself stands for them: one path per
    sink keeps a multi-sink read under Spark's parallel-listing threshold
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``, 32 paths),
    which would otherwise cost a listing job per read. When anything else
    is there (orphans of a crashed compaction), the listed files are named
    one by one so the orphans stay invisible."""
    out: list[str] = []
    for e in entries:
        if not e["files"]:
            continue
        d = os.path.join(run_dir, f"sink={e['sink']}")
        visible = {
            os.path.join(f"sink={e['sink']}", f)
            for f in os.listdir(d)
            if not f.startswith((".", "_"))
        }
        if visible == set(e["files"]):
            out.append(d)
        else:
            out.extend(os.path.join(run_dir, f) for f in e["files"])
    return out


def committed(out_dir: str, run_id: str | None = None) -> list[tuple[str, str, dict]]:
    """The table's one commit enumerator: (run_id, run_dir, manifest) of
    every committed run under ``out_dir``, in commit order (by
    ``committed_at``, then by run id) — or of ``run_id``'s run only,
    which opens that one manifest and lists nothing. A run with no
    manifest (uncommitted, or removed between the listing and its read by
    a concurrent expiry) is skipped."""
    if run_id is None:
        try:
            names = os.listdir(out_dir)
        except FileNotFoundError:
            names = []
        runs = [d[len("run_id=") :] for d in names if d.startswith("run_id=")]
    else:
        runs = [run_id]
    found = []
    for r in runs:
        run_dir = os.path.join(out_dir, f"run_id={r}")
        m = read_run(run_dir)
        if m is not None:
            found.append((r, run_dir, m))
    return sorted(found, key=lambda t: (commit_instant(t[2]), t[0]))


def commit_instant(manifest: dict) -> datetime:
    """The run's ``committed_at``, tz-aware UTC."""
    return datetime.fromisoformat(manifest["committed_at"])


def as_utc(dt: datetime) -> datetime:
    """A caller's cut-off as tz-aware (a naive one is taken as UTC), so it
    compares with commit instants."""
    return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt


def run_files(manifest: dict) -> set[str]:
    """Every name a committed run holds, relative to its directory: its
    sinks' data files, its manifest and its ``_metrics``."""
    return {
        RUN_MANIFEST,
        METRICS_FILE,
        *(f for e in manifest["sinks"] for f in e["files"]),
    }


def gc_run(run_dir: str, keep=()) -> int:
    """The package's one GC: delete every file under ``run_dir`` that
    ``keep`` (paths relative to ``run_dir``) does not name, bottom-up,
    and remove each directory this leaves empty — ``run_dir`` itself
    included. Per-key deletes only, no rename. Returns files removed."""
    keep = {os.path.join(run_dir, k) for k in keep}
    n = 0
    for root, _, files in os.walk(run_dir, topdown=False):
        for f in files:
            p = os.path.join(root, f)
            if p not in keep:
                os.remove(p)
                n += 1
        if not os.listdir(root):
            os.rmdir(root)
    return n
