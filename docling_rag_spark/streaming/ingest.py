"""Structured-Streaming ingest: continuous arrival of new document files.

The reference's closest behavior is the dashboard's streaming file
discovery + incremental skip (reference src/dashboard/routes/ingestion.py:
149-192 and the document_exists skip, src/storage/postgres.py:253-262).
Here that becomes the idiomatic Spark shape: ``readStream`` over the input
table directory → ``foreachBatch`` running the SAME commit as the batch
job (pipeline.commit_extraction), with exactly-once via the streaming
checkpoint (file source tracks processed files; a killed job resumes where
it left off).

Outputs under ``out_dir``, as jobs/extract_job.py writes them (key in
brackets, lineage last): extracted_spans/ [doc_id, order], chunks/ [id],
doc_metadata/ [doc_id] of the processed documents, lineage/ [run_id,
doc_id] with run_id ``<run_id>-b<batch_id>``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import commit_extraction, resume_filter
from ..schemas import DOCUMENTS_SPANS_SCHEMA
from ..sources.sinks import has_table


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    run_id: str = "stream",
    max_files_per_trigger: int | None = None,
) -> None:
    """Process all currently-available files (Trigger.AvailableNow) and stop.

    Re-running with the same checkpoint processes only NEW files — the
    streaming analog of the lineage anti-join resume.
    """
    reader = (
        spark.readStream.schema(DOCUMENTS_SPANS_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(input_dir)

    lineage_dir = os.path.join(out_dir, "lineage")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # doc-level exactly-once: the file-source checkpoint dedups FILES,
        # not documents — a doc re-delivered inside a new file would be
        # re-extracted. Anti-join the accumulated lineage (the reference's
        # document_exists skip, src/storage/postgres.py:253-262);
        # dropDuplicates handles a doc appearing twice INSIDE one
        # micro-batch. A replayed batch id keeps its run_id, so the keyed
        # appends drop what its first attempt already wrote.
        prior = spark.read.parquet(lineage_dir) if has_table(lineage_dir) else None
        todo = resume_filter(batch_df.dropDuplicates(["doc_id"]), prior)
        commit_extraction(spark, todo, out_dir, run_id=f"{run_id}-b{batch_id}")

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
