"""Deterministic synthetic data generation (seeded, no external data).

All columns derive from ``spark.range(n)``'s ``id`` through ``xxhash64`` —
the result is bit-identical regardless of partitioning, parallelism, or
retry, which is what makes the kill/resume and scaling-efficiency tests
honest. (Spark's ``rand(seed)`` is only reproducible per-partition-layout;
counter-based hashing is reproducible, period.)

Shapes follow FIXTURES.md: a hot ``source`` key (~60% of rows) exercises
key skew; edge rows (empty and single-token arrays) exercise the parse
stage's boundary behavior, mirroring the reference e2e's unicode/edge
payloads (/root/reference/spec/lumberjack_spec.rb:70).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 50_257
MAX_TOKENS = 512
N_SOURCES = 8  # src_hot + src_0..src_6
SEED = 42


def gen_sequences(
    spark: SparkSession,
    n_rows: int,
    *,
    seed: int = SEED,
    max_tokens: int = MAX_TOKENS,
    num_partitions: int | None = None,
) -> DataFrame:
    """The sequences table ``(doc_id, tokens, n_tok, source)``.

    ~60% of rows land on ``src_hot`` (the deliberate skew key); id % 997 == 0
    rows carry an empty token array and id % 991 == 0 rows a single token.
    """
    df = spark.range(0, n_rows, numPartitions=num_partitions)
    h = lambda salt: F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))  # noqa: E731

    df = df.withColumn(
        "source",
        F.when(F.pmod(h(1), F.lit(100)) < 60, F.lit("src_hot")).otherwise(
            F.concat(F.lit("src_"), F.pmod(h(2), F.lit(N_SOURCES - 1)).cast("string"))
        ),
    )
    df = df.withColumn(
        "n_tok",
        F.when(F.col("id") % 997 == 0, F.lit(0))
        .when(F.col("id") % 991 == 0, F.lit(1))
        .otherwise((F.pmod(h(3), F.lit(max_tokens)) + 1).cast("int"))
        .cast("int"),
    )
    df = df.withColumn(
        "tokens",
        F.when(F.col("n_tok") == 0, F.array().cast("array<int>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.col("n_tok") - 1),
                lambda i: F.pmod(
                    F.xxhash64(F.col("id"), i, F.lit(seed)), F.lit(VOCAB_SIZE)
                ).cast("int"),
            )
        ),
    )
    df = df.withColumn(
        "doc_id", F.format_string("%s-%09d", F.col("source"), F.col("id"))
    )
    return df.select("doc_id", "tokens", "n_tok", "source")


def gen_source_dim(spark: SparkSession) -> DataFrame:
    """Enrich dimension: FileConfig.Fields reborn (config.go:40).

    Per FIXTURES.md §2: ``src_6`` appears in the data but NOT here (left-join
    null path), and ``src_ghost`` matches no data rows.
    """
    return source_dim_frame(
        spark,
        [
            (name, {"type": typ, "env": env})
            for name, typ, env in [
                ("src_hot", "syslog", "prod"),
                ("src_0", "syslog", "prod"),
                ("src_1", "apache", "prod"),
                ("src_2", "apache", "staging"),
                ("src_3", "app", "prod"),
                ("src_4", "app", "dev"),
                ("src_5", "metrics", "prod"),
                # src_6 intentionally missing → left-join null path
                ("src_ghost", "ghost", "none"),  # matches no data
            ]
        ],
    )


def source_dim_frame(
    spark: SparkSession, rows: list[tuple[str, dict[str, str]]]
) -> DataFrame:
    """An enrich dim of (source, fields) rows, built from Arrow so that it
    is a ``LocalRelation``: the enrich's collect of its rows starts no
    Spark job and no Python worker, where a frame of pickled rows starts
    both on every read."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import SOURCE_DIM_SCHEMA

    table = pa.Table.from_pylist(
        [{"source": s, "fields": f} for s, f in rows],
        schema=to_arrow_schema(SOURCE_DIM_SCHEMA),
    )
    return spark.createDataFrame(table, SOURCE_DIM_SCHEMA)


def default_routes() -> list[tuple[int, str, str]]:
    """Ordered (priority, predicate, sink) rules with a mandatory default.

    Deterministic replacement for the reference's random server pick
    (/root/reference/publisher1.go:168-186). Predicates are SQL boolean
    exprs over the enriched columns.
    """
    return [
        (0, "fields['type'] = 'syslog' AND n_tok > 16", "sink_syslog"),
        (1, "fields['type'] = 'apache'", "sink_apache"),
        (2, "fields['env'] = 'dev' OR n_tok = 0", "sink_dev"),
        (3, "true", "sink_default"),
    ]


def gen_media(spark: SparkSession, n_rows: int, *, seed: int = SEED) -> DataFrame:
    """Multimodal fixture: opaque binary payloads + typed metadata.

    Payload bytes are a deterministic fake (hash-derived); real decode is
    stubbed in operators/multimodal.py (media libs not in this container).
    """
    df = spark.range(0, n_rows)
    h = lambda salt: F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))  # noqa: E731
    kind = (
        F.when(F.pmod(h(1), F.lit(3)) == 0, F.lit("image"))
        .when(F.pmod(h(1), F.lit(3)) == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    return df.select(
        F.format_string("media-%06d", F.col("id")).alias("media_id"),
        kind.alias("kind"),
        F.unhex(F.sha2(F.col("id").cast("string"), 256)).alias("payload"),
        F.struct(
            (F.pmod(h(2), F.lit(1920)) + 1).cast("int").alias("width"),
            (F.pmod(h(3), F.lit(1080)) + 1).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.pmod(h(4), F.lit(300)) + 1).cast("int").alias("n_frames"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )
