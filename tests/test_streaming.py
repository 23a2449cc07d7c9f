"""Streaming pipeline: drain a parquet dir via foreachBatch micro-batches;
re-running with the same checkpoint reprocesses nothing (exactly-once across
the streaming boundary, the ack/resume loop of SURVEY §2.11)."""

from __future__ import annotations

import os

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, read_table
from logstash_forwarder_spark.plans.registrar import Registrar
from logstash_forwarder_spark.streaming.stream_pipeline import stream_pipeline


def test_stream_drain_and_idempotent_restart(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "stream_ck")

    gen_sequences(spark, 2_000, num_partitions=2).write.parquet(in_dir)
    dim = gen_source_dim(spark)
    spec = PipelineSpec(out_dir=out_dir, run_id="stream1")

    q = stream_pipeline(
        spark, in_dir, dim, spec, checkpoint_dir=ck_dir, available_now=True
    )
    q.awaitTermination(120)
    assert read_table(spark, out_dir).count() == 2_000

    # epoch-scoped lineage exists
    reg = Registrar(os.path.join(out_dir, "_checkpoint"))
    lin = reg.lineage().to_pandas()
    assert lin.run_id.str.startswith("stream1-e").all()
    assert lin.row_count.sum() == 2_000

    # restart with same checkpoint: nothing new to process, no duplicates
    q2 = stream_pipeline(
        spark, in_dir, dim, spec, checkpoint_dir=ck_dir, available_now=True
    )
    q2.awaitTermination(120)
    assert read_table(spark, out_dir).count() == 2_000

    # new files arrive → only they are processed (per-file FIFO, the
    # prospector loop reborn)
    gen_sequences(spark, 500, num_partitions=1).write.mode("append").parquet(in_dir)
    q3 = stream_pipeline(
        spark, in_dir, dim, spec, checkpoint_dir=ck_dir, available_now=True
    )
    q3.awaitTermination(120)
    # 500 re-generated rows overlap doc_ids with the first 2000 but are new
    # FILES — the stream processes them as new data (identity = file+offset)
    assert read_table(spark, out_dir).count() == 2_500
