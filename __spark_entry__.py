"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship parse → enrich → route → aggregate pipeline
(tokenizing sf0.001 documents into the sequences shape); ``queries`` /
``oracle_sql`` expose the SURVEY §2 operator registry with DuckDB oracles
(see logstash_forwarder_spark/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_forwarder_spark import queries as Q
from logstash_forwarder_spark.datagen import source_dim_frame
from logstash_forwarder_spark.operators.aggregate import sink_source_counts
from logstash_forwarder_spark.pipeline import PipelineSpec, build_plan

SF0001 = "/root/testdata/sf0.001"


def documents_as_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically tokenize the documents table into the sequences
    shape (doc_id, tokens, n_tok, source) per BASELINE.json.input_hint."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.col("text"), " ")
    tokens = F.transform(
        words, lambda w: F.pmod(F.xxhash64(w), F.lit(50_257)).cast("int")
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(words).cast("int").alias("n_tok"),
        "source",
    )


def _sequences_dim(spark: SparkSession) -> DataFrame:
    return source_dim_frame(
        spark, [(s, {"type": t, "env": e}) for s, t, e in Q.DOC_DIM]
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: the publish plan (one parse + enrich kernel → route)
    → per-(sink, source) aggregate."""
    seqs = documents_as_sequences(spark, sf_dir)
    spec = PipelineSpec(out_dir="", run_id="entry")  # build_plan writes nothing
    return sink_source_counts(build_plan(seqs, _sequences_dim(spark), spec))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in Q.registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_, sql) in Q.registry().items() if sql is not None
    }
