"""Fixed schemas, declared up front — no inference.

Mirrors the reference's fixed Go structs: FileEvent
(/root/reference/event.go:5-13), FileState
(/root/reference/filestate_linux.go:3-8), FileConfig.Fields
(/root/reference/config.go:39-40). The wire protocol is strings-only
(/root/reference/PROTOCOL.md:59-60); our enrich dim keeps that contract with
``map<string,string>`` fields.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The primary input: one row ≈ one harvested line (FileEvent reborn).
# doc_id plays the role of (Source, Offset) identity (event.go:5-13);
# tokens is the pre-tokenized payload per BASELINE.json.input_hint.
SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# Enrich dimension: FileConfig.Fields (config.go:40) generalized from a
# constant-per-path map to a true broadcastable lookup table.
SOURCE_DIM_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType(), False), False),
    ]
)

# Output of the vectorized parse stage (O-P1): grok/regex-style field
# extraction over the token payload.
PARSED_FIELDS_SCHEMA = T.StructType(
    [
        T.StructField("head_token", T.IntegerType(), True),
        T.StructField("tail_token", T.IntegerType(), True),
        T.StructField("tok_sum", T.LongType(), True),
        T.StructField("tok_max", T.IntegerType(), True),
        T.StructField("n_distinct", T.IntegerType(), True),
        T.StructField("payload_class", T.StringType(), True),
    ]
)

# Multimodal: opaque binary payloads with typed metadata (media columns a
# training-data pipeline carries; decode is stubbed — libs not in container).
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)
