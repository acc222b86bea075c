"""Explicit StructTypes for every table the engine reads or writes.

Input shape is the driver contract (BASELINE.json:15 ``input_hint``);
output shapes mirror the reference's persisted schema
(reference docker/init.sql:6-18) and FIXTURES.md F2-F4.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

# the engine's input table (input_hint, BASELINE.json:15)
DOCUMENTS_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

# extraction output: ordered span sequence per document (FIXTURES.md F2)
EXTRACTED_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("order", IntegerType(), nullable=False),
        StructField("kind", StringType(), nullable=False),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("page_num", IntegerType()),
    ]
)

# persisted chunks table (reference docker/init.sql:6-18; FIXTURES.md F3)
CHUNKS_SCHEMA = StructType(
    [
        StructField("id", StringType(), nullable=False),
        StructField("doc_id", StringType(), nullable=False),
        StructField("text", StringType(), nullable=False),
        StructField("page_num", IntegerType()),
        StructField("chunk_index", IntegerType(), nullable=False),
        StructField("n_tokens", IntegerType()),
        StructField("doc_type", StringType()),
        StructField("language", StringType()),
        StructField("ingested_at", TimestampType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

# per-partition lineage / metrics (FIXTURES.md F4; north_rule resumability)
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), nullable=False),
        StructField("partition_id", IntegerType()),
        StructField("doc_id", StringType(), nullable=False),
        StructField("status", StringType(), nullable=False),
        StructField("error", StringType()),
        StructField("n_spans_in", LongType()),
        StructField("n_blocks_out", LongType()),
        # commit time — the E17 re-ingest predicate compares the source's
        # modified_at against max(ingested_at) (reference src/utils.py:141-147)
        StructField("ingested_at", TimestampType()),
    ]
)
