"""The orchestrator: parse → enrich → route → write → one run commit.

One logical run = one envelope/ack cycle of the reference
(/root/reference/publisher1.go:44-127), restructured for scale:

* **Single input pass, one job.** The routed stream ends in the
  package's one data-file writer, ``manifest.write_sink_files`` (the
  module that owns the write-once rule; compaction rewrites through it
  too): each task writes its rows for each sink with pyarrow straight to
  a final, unique name in ``sink=S/`` and, once its writers are closed,
  returns one row per (sink, file, input partition, source) with the row
  count, token total and max tokens. The driver's one ``collect`` of
  those rows gives every manifest's file list, the lineage and the
  manifests' ``sources`` — K sinks do not mean K scans of a 100 TB
  input, and nothing is listed or re-read after the write.
* **One commit per run, after the data.** Data files land once in their
  final ``sink=S/`` directory and are never renamed — there is no
  task-commit protocol under the writer; the run is then committed by
  ONE atomic swap of a small manifest file, ``run_id=R/_manifest.json``
  (plans/manifest.py ``publish_run``), that lists every non-empty sink's
  files, its per-(sink, source) statistics (``sources``), its lineage
  (the writer's per-(sink, input partition) statistics), the run's
  ``committed_at`` and — for a tail poll, passed in as ``tail`` — the
  source offsets after the poll. Readers resolve through the manifest,
  so files no manifest names — a failed task attempt's partial file, or
  a run whose commit a crash pre-empted — are invisible. A run whose
  manifest exists is done and is never rewritten; an uncommitted run's
  files are all orphans, which resume deletes (``manifest.gc_run``,
  keeping nothing) before it redoes the whole run → exactly-once routed
  rows (strictly stronger than the reference's at-least-once, SURVEY
  §3.4). No file or directory is ever renamed but the one-file manifest
  swap, so the same protocol is correct on object stores (S3/GCS).
* **One kernel, two backends.** Parse and enrich are one Arrow kernel,
  ``parse_enrich`` (operators/enrich.py): ``parse_batch``, then a pyarrow
  left join of the dim's rows, collected once in the driver. When
  ``sequences`` is already in the driver — its optimized plan is a
  ``LocalRelation``, as for a tail poll harvested in the driver
  (sources/textlog.py) — the rows are fetched and the kernel runs there,
  and the writer body the Spark kernel runs writes one file per sink:
  two Spark jobs (the fetch and the route), no Python worker. Anything
  else (a parquet scan, a streaming micro-batch, a checkpointed poll)
  runs the kernel in one ``mapInArrow`` and the writer in the same job:
  one Spark job per publish. Both backends then share the route tail
  (``_route``: the metadata columns and the Catalyst route predicates
  — the one predicate compiler) and the file schema. There is no size
  threshold here: the input's plan decides, and ``RunResult.backend``
  records which ran. Both commit through the same manifest swap.
* **Metrics from the writer's statistics.** ``_metrics`` (per-(sink,
  source) row count, token total, max tokens) is built on the driver from
  the sink entries the manifest is built from — no data is re-read — and
  written as one plain parquet file BEFORE the manifest swap, which
  commits it as it commits the data files. A run is thus exactly one
  swap, and every run this module commits has its ``_metrics``. No Spark
  job runs after the write.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from .datagen import default_routes
from .operators.enrich import (
    annotate,
    dim_rows,
    enriched_schema,
    parse_enrich,
    parse_enrich_stage,
)
from .operators.route import route_stage
from .plans.manifest import (
    METRICS_FILE,
    as_utc,
    commit_instant,
    committed,
    fold_stats,
    gc_run,
    publish_run,
    read_run,
    resolve_sink_paths,
    sink_entry,
    sink_sources,
    write_sink_batches,
    write_sink_files,
)


# _metrics: one row per (sink, source); a manifest's ``sources`` entries
# carry the same fields but ``sink``
METRICS_SCHEMA = pa.schema(
    [
        ("sink", pa.string()),
        ("source", pa.string()),
        ("row_count", pa.int64()),
        ("token_total", pa.int64()),
        ("max_tokens", pa.int32()),
    ]
)


@dataclass
class PipelineSpec:
    out_dir: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    routes: list[tuple[int, str, str]] = field(default_factory=default_routes)
    # write-time sorted layout (plans/layout.py at the ship surface):
    # range-partition each sink's rows by this column and sort within
    # partitions before the write, so parquet row-group/file min-max
    # envelopes prune selective range scans downstream. Costs ONE range
    # exchange at publish (the documented layout tradeoff); lineage is
    # unaffected (part_id rides the rows).
    sort_col: str | None = None
    # with sort_col: explicit range-partition count. None lets the
    # session's shuffle width (and AQE coalescing) pick — fine at scale,
    # but AQE coalescing small runs into few large files WEAKENS zone-map
    # pruning; set explicitly when file granularity is the point.
    sort_partitions: int | None = None


@dataclass
class RunResult:
    run_id: str
    # the non-empty sinks this call committed; [] for a committed run
    sinks_committed: list[str]
    rows_staged: int
    metrics_path: str
    elapsed_sec: float
    # "local": the rows were already in the driver and ran there;
    # "spark": the distributed path
    backend: str


def build_plan(
    sequences: DataFrame, source_dim: DataFrame, spec: PipelineSpec
) -> DataFrame:
    """The logical plan: parse → enrich (one ``mapInArrow``) → route.
    Pure, lazily evaluated, but for collecting the dim's rows."""
    return _route(parse_enrich_stage(sequences, source_dim), spec)


def _route(enriched: DataFrame, spec: PipelineSpec, part_id=None) -> DataFrame:
    """The route tail both backends share: the metadata columns and the
    sink."""
    return route_stage(annotate(enriched, spec.run_id, part_id), spec.routes)


def _local_relation(df: DataFrame):
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan if plan.getClass().getSimpleName() == "LocalRelation" else None


def is_driver_local(df: DataFrame) -> bool:
    """The backend rule: ``df``'s rows are already in the driver — its
    optimized plan is a ``LocalRelation``, as is every frame built from
    Arrow or Python data in the driver and every filter or projection
    Catalyst folds into one (a driver-harvested tail poll's
    ``lines_to_sequences``, for one)."""
    return _local_relation(df) is not None


def row_count(df: DataFrame) -> int:
    """``df.count()``, but a driver-local ``df``'s rows are counted where
    they are, with no Spark job."""
    local = _local_relation(df)
    return df.count() if local is None else local.data().size()


def run_pipeline(
    spark: SparkSession,
    sequences: DataFrame,
    source_dim: DataFrame,
    spec: PipelineSpec,
    *,
    tail: dict | None = None,
) -> RunResult:
    """Publish ``sequences`` as run ``spec.run_id`` and commit it with one
    manifest swap, ``tail`` (a tail poll's offsets, stored as given)
    included. A run whose manifest exists is already committed: nothing
    is written for it."""
    t0 = time.monotonic()
    backend = "local" if is_driver_local(sequences) else "spark"
    run_dir = os.path.join(spec.out_dir, f"run_id={spec.run_id}")
    metrics = os.path.dirname(os.path.join(run_dir, METRICS_FILE))
    if read_run(run_dir) is not None:
        return RunResult(spec.run_id, [], 0, metrics, time.monotonic() - t0, backend)

    # an uncommitted run's files are a crashed attempt's orphans: GC them,
    # then write data files ONCE, under final names, returning each file's
    # per-(input partition, source) statistics — metadata-sized
    gc_run(run_dir)
    if backend == "local":
        stats = _write_local(sequences, source_dim, spec, run_dir)
    else:
        stats = write_sink_files(_routed(sequences, source_dim, spec), run_dir)
    files = fold_stats(stats, ["sink", "file"], [])
    # with sort_col one part_id spans several tasks' files
    lineage = fold_stats(stats, ["sink", "part_id"], ["row_count", "token_total"])
    entries = [
        sink_entry(
            sink,
            [r["file"] for r in files[sink]],
            sources,
            [
                {
                    "partition_id": r["part_id"],
                    "row_count": r["row_count"],
                    "token_total": r["token_total"] or 0,
                }
                for r in lineage[sink]
            ],
        )
        for sink, sources in sink_sources(stats).items()
    ]
    _write_metrics(run_dir, entries)
    # the commit = the ack (O-R5): one atomic FILE swap names every
    # sink's data files, records the lineage and, for a poll, the offsets
    publish_run(run_dir, entries, tail)
    return RunResult(
        run_id=spec.run_id,
        sinks_committed=[e["sink"] for e in entries],
        rows_staged=sum(e["row_count"] for e in entries),
        metrics_path=metrics,
        elapsed_sec=time.monotonic() - t0,
        backend=backend,
    )


def _routed(
    sequences: DataFrame, source_dim: DataFrame, spec: PipelineSpec
) -> DataFrame:
    """The Spark backend's routed rows, range-sorted when
    ``spec.sort_col`` asks for it."""
    routed = _route(parse_enrich_stage(sequences, source_dim), spec)
    if spec.sort_col:
        range_args = ("sink", spec.sort_col)
        if spec.sort_partitions:
            routed = routed.repartitionByRange(spec.sort_partitions, *range_args)
        else:
            routed = routed.repartitionByRange(*range_args)
        routed = routed.sortWithinPartitions(*range_args)
    return routed


def _write_local(
    sequences: DataFrame,
    source_dim: DataFrame,
    spec: PipelineSpec,
    run_dir: str,
) -> pa.Table:
    """The driver-local backend, in two Spark jobs and no Python worker:
    fetch the rows (one job), run ``parse_enrich`` on the fetched table,
    route it through the shared route tail over one LocalRelation (one
    job), and write one file per sink through the shared writer body.
    ``part_id`` is 0: the driver is one partition."""
    enriched = sequences.sparkSession.createDataFrame(
        parse_enrich(sequences.toArrow(), dim_rows(source_dim)),
        enriched_schema(sequences.schema, source_dim.schema),
    )
    table = _route(enriched, spec, F.lit(0)).toArrow()
    if spec.sort_col:
        table = table.sort_by(
            [("sink", "ascending"), (spec.sort_col, "ascending")],
            null_placement="at_start",
        )
    name = f"part-{uuid.uuid4().hex[:12]}-00000-driver.parquet"
    return write_sink_batches(table.to_batches(), run_dir, name)


def _write_metrics(run_dir: str, entries: list[dict]) -> None:
    """The north-rule metrics — per-(sink, source) row count, token total
    and max tokens over the run's sink ``entries`` (the manifest's) — as
    ONE plain parquet file ``_metrics/part-00000.parquet`` (zero rows when
    no sink got any), written before the manifest swap that commits it.
    Both ``pq.read_table`` and ``spark.read.parquet`` read its
    directory."""
    rows = [{"sink": e["sink"], **src} for e in entries for src in e["sources"]]
    path = os.path.join(run_dir, METRICS_FILE)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=METRICS_SCHEMA), path)


def read_table(
    spark: SparkSession,
    out_dir: str,
    sinks: list[str] | None = None,
    as_of: str | datetime | None = None,
) -> DataFrame:
    """The output table — every committed run's sinks (only ``sinks``,
    when given) — as of a snapshot: ``as_of`` is a run id (the read
    holds that run and every run committed before it) or a datetime (the
    runs committed at or before it; a naive one is UTC). An unknown or
    expired run id raises ``ValueError``, and so does a cut with no data.

    A bare ``run_id=*/sink=*`` glob is WRONG here: data files are written
    in place before the manifest commit, so the glob can see a crashed
    attempt's uncommitted orphans (and, after a compaction crash,
    superseded originals). This reader takes the runs in commit order
    from ``manifest.committed`` and each run's files from its manifest.
    Every poll commits its lines and its offsets in one swap, so no line
    appears in two runs and no read-side dedup is needed. The schema is
    explicit — one data file's footer, with ``run_id`` and ``sink`` as
    strings — so Spark infers no type from a directory name: run ``007``
    stays ``"007"``, sink ``1.50`` stays ``"1.50"``."""
    runs = committed(out_dir)
    if isinstance(as_of, str):
        ids = [r for r, _, _ in runs]
        if as_of not in ids:
            raise ValueError(f"run {as_of!r} is not committed under {out_dir}")
        runs = runs[: ids.index(as_of) + 1]
    elif as_of is not None:
        runs = [t for t in runs if commit_instant(t[2]) <= as_utc(as_of)]
    picked = [
        (run_dir, e)
        for _, run_dir, m in runs
        for e in m["sinks"]
        if e["files"] and (sinks is None or e["sink"] in sinks)
    ]
    if not picked:
        raise ValueError(f"no published data under {out_dir}")
    run_dir, e = picked[0]
    data = from_arrow_schema(pq.read_schema(os.path.join(run_dir, e["files"][0])))
    names = data.fieldNames()
    names += [c for c in ("run_id", "sink") if c not in names]
    schema = T.StructType(
        [
            T.StructField(n, T.StringType()) if n in ("run_id", "sink") else data[n]
            for n in names
        ]
    )
    paths = [p for run_dir, e in picked for p in resolve_sink_paths(run_dir, [e])]
    return (
        spark.read.schema(schema)
        .option("basePath", out_dir)
        .parquet(*paths)
        .select(*names)
    )
