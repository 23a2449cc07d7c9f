"""Sorted-layout zone-map pruning (plans/layout.py): the same range
predicate over the same rows scans ~all row groups on a shuffled layout
and ~one on the sorted layout — measured on the scan's own
numOutputRows metric, not inferred from plan text."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from logstash_forwarder_spark.plans.layout import scan_output_rows, write_sorted

N = 400_000


def test_sorted_layout_prunes_row_groups(spark, tmp_path):
    base = spark.range(N).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    sorted_p = str(tmp_path / "sorted")
    shuffled_p = str(tmp_path / "shuffled")
    # coalesce(1): one file per layout so the contrast is row-group
    # pruning alone, not file pruning; 256 KiB groups => ~25 groups
    write_sorted(
        base.coalesce(1), sorted_p, sort_cols=["k"], row_group_bytes=256 * 1024
    )
    base.orderBy(F.xxhash64("k")).coalesce(1).write.option(
        "parquet.block.size", str(256 * 1024)
    ).mode("overwrite").parquet(shuffled_p)

    pred = "k >= 100000 and k < 101000"  # 0.25% of the domain

    def measure(path):
        df = spark.read.parquet(path).filter(pred)
        assert len(df.collect()) == 1000  # same answer either way
        return scan_output_rows(df)

    scanned_sorted = measure(sorted_p)
    scanned_shuffled = measure(shuffled_p)
    assert scanned_shuffled == N          # nothing prunes: full scan
    assert scanned_sorted < N // 10       # >=10x fewer rows materialized
    assert scanned_sorted >= 1000


def test_scan_output_rows_guards(spark):
    df = spark.range(10).groupBy().count()
    df.collect()
    # no FileScan under a range->agg plan: helper must refuse, not lie
    with pytest.raises(ValueError):
        scan_output_rows(df)
    with pytest.raises(ValueError):
        write_sorted(spark.range(1), "/tmp/never", sort_cols=[])


def test_pipeline_sort_col_prunes_published_scans(spark, tmp_path):
    """PipelineSpec.sort_col: the sorted layout at the SHIP surface —
    a selective n_tok range read over the published run materializes
    far fewer rows than the unsorted publish of the same data."""
    from pyspark.sql import functions as F

    from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
    from logstash_forwarder_spark.pipeline import (
        PipelineSpec,
        read_table,
        run_pipeline,
    )
    from logstash_forwarder_spark.plans.layout import scan_output_rows

    seqs = gen_sequences(spark, 40_000).repartition(8)
    dim = gen_source_dim(spark)
    out = str(tmp_path / "out")
    run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=out, run_id="plain"))
    # explicit sort_partitions: AQE would otherwise coalesce this small
    # run's range shuffle into few large files and weaken the pruning
    # this test measures (file granularity IS the point here)
    run_pipeline(
        spark,
        seqs,
        dim,
        PipelineSpec(
            out_dir=out, run_id="sorted", sort_col="n_tok", sort_partitions=16
        ),
    )

    # collect-then-read-metrics (the executed-plan clone gotcha)
    def scanned(run_id: str) -> tuple[int, int]:
        df = read_table(spark, out, sinks=["sink_syslog"]).where(
            (F.col("run_id") == run_id) & (F.col("n_tok") >= 100) & (F.col("n_tok") < 110)
        )
        rows = df.collect()
        return len(rows), scan_output_rows(df)

    n_plain, scan_plain = scanned("plain")
    n_sorted, scan_sorted = scanned("sorted")
    assert n_plain == n_sorted > 0  # identical query results
    assert scan_sorted * 3 <= scan_plain, (scan_sorted, scan_plain)
