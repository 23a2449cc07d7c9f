"""The orchestrator: parse → enrich → route → fan-out commit → aggregate.

One logical run = one envelope/ack cycle of the reference
(/root/reference/publisher1.go:44-127), restructured for scale:

* **Single input pass.** The routed stream is written ONCE with
  ``partitionBy("sink")`` straight into the run directory — K sinks do not
  mean K scans of a 100 TB input. Lineage and the north-rule aggregates are
  then computed from the written columnar data, reading only the few
  columns they need.
* **Checkpoint anti-filter.** On resume, sinks already committed for this
  ``run_id`` are excluded *before* the write (O-X3's left-anti join,
  degenerated to an ``isin`` filter because the commit key is the sink) —
  re-running a half-failed run re-does only uncommitted work.
* **One commit protocol, checkpoint-after-data.** Data files land once in
  their final ``sink=S/`` directory; each sink is then published by
  atomically swapping ONE small manifest file that names them
  (plans/manifest.py), and its lineage rows are committed second through
  ``Registrar.commit`` — every sink, empty or not, the same way. The
  lineage is one per-(sink, input partition) aggregate over the staged
  files, collected to the driver: sinks × input partitions rows. Readers
  resolve through the manifest, so files no manifest names are
  invisible. A crash between publish and checkpoint leaves a manifest
  the registrar never adopted, which resume deletes and redoes →
  exactly-once routed rows (strictly stronger than the reference's
  at-least-once, SURVEY §3.4). No directory is ever renamed, so the same
  protocol is correct on object stores (S3/GCS).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import default_routes
from .operators.aggregate import sink_source_counts
from .operators.enrich import enrich_stage
from .operators.parse import parse_stage
from .operators.route import route_stage, sink_names
from .plans.manifest import (
    gc_sink,
    list_data_files,
    publish_manifest,
    published_sinks,
    resolve_sink_paths,
)
from .plans.registrar import LineageRow, Registrar


@dataclass
class PipelineSpec:
    out_dir: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    routes: list[tuple[int, str, str]] = field(default_factory=default_routes)
    # write-time sorted layout (plans/layout.py at the ship surface):
    # range-partition each sink's rows by this column and sort within
    # partitions before staging, so parquet row-group/file min-max
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


def build_plan(
    sequences: DataFrame, source_dim: DataFrame, spec: PipelineSpec
) -> DataFrame:
    """The logical plan: parse → enrich → route. Pure, lazily evaluated."""
    parsed = parse_stage(sequences)
    enriched = enrich_stage(parsed, source_dim, run_id=spec.run_id)
    return route_stage(enriched, spec.routes)


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

    run_dir = os.path.join(spec.out_dir, f"run_id={spec.run_id}")
    os.makedirs(run_dir, exist_ok=True)

    committed: list[str] = []
    rows_staged = 0
    if todo:
        routed = build_plan(sequences, source_dim, spec)
        # exclude already-committed sinks before the (expensive) write
        if done:
            routed = routed.filter(~F.col("sink").isin(sorted(done)))
        if spec.sort_col:
            range_args = ("sink", spec.sort_col)
            if spec.sort_partitions:
                routed = routed.repartitionByRange(
                    spec.sort_partitions, *range_args
                )
            else:
                routed = routed.repartitionByRange(*range_args)
            routed = routed.sortWithinPartitions(*range_args)

        # GC unreferenced leftovers of crashed attempts, then write data
        # files ONCE in their final partition dirs. fields is
        # map<string,string>: fine for parquet; keep the full row for
        # routed-row equality checks downstream.
        for sink in todo:
            gc_sink(run_dir, sink)
        shutil.rmtree(os.path.join(run_dir, "_temporary"), ignore_errors=True)
        routed.write.mode("append").partitionBy("sink").parquet(run_dir)
        files = {s: list_data_files(run_dir, s) for s in todo}
        staged_dirs = [os.path.join(run_dir, f"sink={s}") for s in todo if files[s]]

        # per-(sink, input partition) lineage: one aggregate over the
        # staged files, collected — sinks × input partitions rows, the
        # size the registrar itself reads back on every lookup
        lineage: dict[str, list[LineageRow]] = {s: [] for s in todo}
        if staged_dirs:
            staged = spark.read.option("basePath", run_dir).parquet(*staged_dirs)
            per_part = staged.groupBy("sink", "part_id").agg(
                F.count(F.lit(1)), F.coalesce(F.sum("n_tok"), F.lit(0))
            )
            for sink, part, n, tokens in sorted(per_part.collect()):
                lineage[sink].append(LineageRow(part, n, tokens))

        for sink in todo:
            # publish = the ack (O-R5: one atomic FILE swap names the data
            # files); checkpoint second. A crash between the two leaves a
            # manifest the registrar never adopted, which resume's gc_sink
            # deletes and redoes (idempotent re-commit). A sink no row was
            # routed to commits an empty manifest and the sentinel row.
            rows = lineage[sink] or [LineageRow(-1, 0, 0)]
            n = sum(r.row_count for r in rows)
            publish_manifest(run_dir, sink, files[sink], n)
            reg.commit(spec.run_id, sink, rows)
            committed.append(sink)
            rows_staged += n

    # north-rule metrics: per-sink/per-source counts + token totals (salted)
    published = resolve_sink_paths(run_dir, all_sinks)
    metrics_path = os.path.join(run_dir, "_metrics")
    if published:
        routed_back = spark.read.option("basePath", run_dir).parquet(*published)
        sink_source_counts(routed_back).write.mode("overwrite").parquet(metrics_path)

    return RunResult(
        run_id=spec.run_id,
        sinks_committed=committed,
        sinks_skipped=sorted(done),
        rows_staged=rows_staged,
        metrics_path=metrics_path,
        elapsed_sec=time.monotonic() - t0,
    )


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
    from its ``_manifests/`` and resolves them the way read_sink does,
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
    run_dirs = sorted(
        d
        for d in os.listdir(out_dir)
        if d.startswith("run_id=")
        and os.path.isdir(os.path.join(out_dir, d))
    )
    sources: list[str] = []
    for rd in run_dirs:
        run_dir = os.path.join(out_dir, rd)
        run_sinks = published_sinks(run_dir) if sinks is None else sinks
        sources.extend(resolve_sink_paths(run_dir, run_sinks))
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
