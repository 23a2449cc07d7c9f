"""Structured Streaming shape of the pipeline (SURVEY §2.11).

The reference's steady-state loop — harvest → spool (1024 events / 5 s) →
publish → ack → registrar (/root/reference/spooler.go:7-62,
publisher1.go:44-127) — maps onto micro-batches:

* spool-size / idle-timeout  → ``maxFilesPerTrigger`` + trigger interval
  (or ``availableNow`` for drain-everything runs)
* publish + ack              → one ``run_pipeline`` call per epoch; the
  run's one atomic manifest swap IS the ack
* sequence numbers           → ``epoch_id`` (monotone per checkpoint), used
  in each epoch's run_id so lineage rows are per-epoch
* backpressure               → the micro-batch pull model itself

Streaming's own checkpointLocation handles source-offset tracking (which
files are consumed); the epoch's run manifest makes a replayed epoch
idempotent — a run already committed is not written again, and one whose
swap a crash pre-empted is redone whole — together: exactly-once end to
end.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import PipelineSpec, run_pipeline
from ..schema import SEQUENCES_SCHEMA


def stream_pipeline(
    spark: SparkSession,
    input_dir: str,
    source_dim: DataFrame,
    spec: PipelineSpec,
    *,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str = "5 seconds",
):
    """Run the pipeline as a streaming query over a parquet directory.

    Returns the started StreamingQuery; callers drain with
    ``q.awaitTermination()`` (availableNow) or manage the lifecycle
    themselves for continuous triggers.
    """
    reader = spark.readStream.schema(SEQUENCES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_spec = replace(spec, run_id=f"{spec.run_id}-e{epoch_id}")
        run_pipeline(batch_df.sparkSession, batch_df, source_dim, epoch_spec)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
