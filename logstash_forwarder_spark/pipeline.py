"""The orchestrator: parse → enrich → route → fan-out commit → aggregate.

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
* **Checkpoint anti-filter.** On resume, sinks already committed for this
  ``run_id`` (those with a manifest) are excluded *before* the write
  (O-X3's left-anti join, degenerated to an ``isin`` filter because the
  commit key is the sink) — re-running a half-failed run re-does only
  uncommitted work.
* **One commit record per sink, after the data.** Data files land once in
  their final ``sink=S/`` directory and are never renamed — there is no
  task-commit protocol under the writer; each sink is then committed by
  ``Registrar.commit``: ONE atomic swap of a small manifest file
  (plans/manifest.py) that names the files and carries the sink's
  per-(sink, source) statistics (``sources``), its lineage (the writer's
  per-(sink, input partition) statistics) and its ``committed_at`` —
  every sink, empty or not, the same way. Readers resolve through the
  manifest, so files no manifest names — a failed task attempt's partial
  file, or a sink whose commit a crash pre-empted — are invisible, and
  resume deletes them (``compact.gc_unreferenced``) and redoes the sink
  → exactly-once routed rows (strictly stronger than the reference's
  at-least-once, SURVEY §3.4). No file or directory is ever renamed
  but the one-file manifest swap, so the same protocol is correct on
  object stores (S3/GCS).
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
  (``_route``: the metadata columns, the Catalyst route predicates — the
  one predicate compiler — and the filter of committed sinks) and the
  file schema. There is no size threshold here: the input's plan decides,
  and ``RunResult.backend`` records which ran. Both commit through the
  same loop below.
* **Metrics from manifests.** ``_metrics`` (per-(sink, source) row count,
  token total, max tokens) is built on the driver from the manifests of
  ALL the run's sinks — a sink skipped on resume contributes its stored
  statistics, no data is re-read — and written as one parquet file
  through the same single-file swap. No Spark job runs after the commit
  loop.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import default_routes
from .operators.enrich import (
    annotate,
    dim_rows,
    enriched_schema,
    parse_enrich,
    parse_enrich_stage,
)
from .operators.route import route_stage, sink_names
from .plans.compact import gc_unreferenced
from .plans.manifest import (
    committed,
    fold_stats,
    publish_file,
    read_manifest,
    resolve_sink_paths,
    sink_sources,
    write_sink_batches,
    write_sink_files,
)
from .plans.registrar import LineageRow, Registrar


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
    sinks_committed: list[str]
    sinks_skipped: list[str]
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


def _route(
    enriched: DataFrame, spec: PipelineSpec, done=(), part_id=None
) -> DataFrame:
    """The route tail both backends share: the metadata columns, the
    sink, minus the sinks already committed (excluded before the write)."""
    routed = route_stage(annotate(enriched, spec.run_id, part_id), spec.routes)
    if done:
        routed = routed.filter(~F.col("sink").isin(sorted(done)))
    return routed


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
) -> RunResult:
    t0 = time.monotonic()
    reg = Registrar(os.path.join(spec.out_dir, "_checkpoint"))
    all_sinks = sink_names(spec.routes)
    done = reg.committed_sinks(spec.run_id)
    todo = [s for s in all_sinks if s not in done]
    backend = "local" if is_driver_local(sequences) else "spark"

    run_dir = os.path.join(spec.out_dir, f"run_id={spec.run_id}")
    os.makedirs(run_dir, exist_ok=True)

    new_commits: list[str] = []
    rows_staged = 0
    if todo:
        # GC unreferenced leftovers of crashed attempts, then write data
        # files ONCE, under final names, returning each file's
        # per-(input partition, source) statistics — metadata-sized
        for sink in todo:
            gc_unreferenced(run_dir, sink)
        if backend == "local":
            stats = _write_local(sequences, source_dim, spec, done, run_dir)
        else:
            stats = write_sink_files(_routed(sequences, source_dim, spec, done), run_dir)
        files = fold_stats(stats, ["sink", "file"], [])
        # with sort_col one part_id spans several tasks' files
        lineage = fold_stats(stats, ["sink", "part_id"], ["row_count", "token_total"])
        sources = sink_sources(stats)

        for sink in todo:
            # the commit = the ack (O-R5): one atomic FILE swap names the
            # data files and records the lineage. A sink no row was routed
            # to commits an empty manifest.
            rows = [
                LineageRow(r["part_id"], r["row_count"], r["token_total"] or 0)
                for r in lineage.get(sink, [])
            ]
            reg.commit(
                spec.run_id,
                sink,
                rows,
                files=[r["file"] for r in files.get(sink, [])],
                sources=sources.get(sink, []),
            )
            new_commits.append(sink)
            rows_staged += sum(r.row_count for r in rows)

    return RunResult(
        run_id=spec.run_id,
        sinks_committed=new_commits,
        sinks_skipped=sorted(done),
        rows_staged=rows_staged,
        metrics_path=_publish_metrics(run_dir, all_sinks),
        elapsed_sec=time.monotonic() - t0,
        backend=backend,
    )


def _routed(
    sequences: DataFrame, source_dim: DataFrame, spec: PipelineSpec, done
) -> DataFrame:
    """The Spark backend's routed rows, range-sorted when
    ``spec.sort_col`` asks for it."""
    routed = _route(parse_enrich_stage(sequences, source_dim), spec, done)
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
    done,
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
    table = _route(enriched, spec, done, F.lit(0)).toArrow()
    if spec.sort_col:
        table = table.sort_by(
            [("sink", "ascending"), (spec.sort_col, "ascending")],
            null_placement="at_start",
        )
    name = f"part-{uuid.uuid4().hex[:12]}-00000-driver.parquet"
    return write_sink_batches(table.to_batches(), run_dir, name)


def _publish_metrics(run_dir: str, sinks: list[str]) -> str:
    """The north-rule metrics — per-(sink, source) row count, token total
    and max tokens over every committed sink of the run — from the sinks'
    manifests, as ONE parquet file ``_metrics/part-00000.parquet``
    (zero rows when no sink got any). Returns the ``_metrics`` directory,
    which both ``pq.read_table`` and ``spark.read.parquet`` read."""
    rows = [
        {"sink": s, **src}
        for s in sinks
        for src in read_manifest(run_dir, s)["sources"]
    ]
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=METRICS_SCHEMA), buf)
    metrics_dir = os.path.join(run_dir, "_metrics")
    os.makedirs(metrics_dir, exist_ok=True)
    publish_file(os.path.join(metrics_dir, "part-00000.parquet"), buf.getvalue())
    return metrics_dir


def read_sink(spark: SparkSession, out_dir: str, run_id: str, sink: str) -> DataFrame:
    run_dir = os.path.join(out_dir, f"run_id={run_id}")
    sources = resolve_sink_paths(run_dir, [sink])
    if not sources:
        raise ValueError(f"sink {sink!r} has no published data in {run_dir}")
    return spark.read.option("basePath", run_dir).parquet(*sources)


def read_table(
    spark: SparkSession,
    out_dir: str,
    sinks: list[str] | None = None,
    *,
    dedup_on: str | None = None,
) -> DataFrame:
    """The whole output table — every run's committed sinks.

    A bare ``run_id=*/sink=*`` glob is WRONG here: data files are written
    in place before the manifest commit, so the glob can see a crashed
    attempt's uncommitted orphans (and, after a compaction crash,
    superseded originals). This reader takes each run's committed sinks
    from its ``_manifests/`` (``manifest.committed``, the enumerator the
    registrar reads through) and resolves them the way read_sink does,
    keeping both hive partition columns (``run_id``, ``sink``) via
    basePath. This is the consumer surface for the tail daemon's many
    per-poll runs.

    ``dedup_on``: the consumer half of the tail loop's documented
    at-least-once recovery window (a crash between commit and state
    write, PLUS growth before restart, re-commits the old lines bundled
    with the growth under a fresh run_id). Passing the replay-stable
    identity column (``doc_id`` — file:line_no for harvested text)
    collapses such replays to ONE row each, keeping the row from the
    minimum run_id (deterministic; which replica survives is
    irrelevant, the payloads are identical by construction). Same
    single-shuffle ``min_by(struct(*), run_id)`` shape as dedup_exact —
    no join back."""
    sources = [
        path
        for _, run_dir, sink in committed(out_dir)
        if sinks is None or sink in sinks
        for path in resolve_sink_paths(run_dir, [sink])
    ]
    if not sources:
        raise ValueError(f"no published data under {out_dir}")
    df = spark.read.option("basePath", out_dir).parquet(*sources)
    if dedup_on is not None:
        cols = df.columns
        df = (
            df.groupBy(dedup_on)
            .agg(F.min_by(F.struct(*cols), F.col("run_id")).alias("_keep"))
            .select("_keep.*")
        )
    return df
