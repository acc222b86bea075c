"""Explicit StructTypes for the engine's input table and its lineage
checkpoint.

Input shape is the driver contract (BASELINE.json:15 ``input_hint``);
the lineage shape is FIXTURES.md F4.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
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
