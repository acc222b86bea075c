"""Cluster job entrypoint for the training-set selection flagship:
spark-submit --py-files docling_rag_spark.zip jobs/select_job.py \
  --input <chunks-table-or-path> --output <dir> [--resume] [--run-id ID]

The selection stage of the pipeline the engine exists for: reads the
EXTRACTION job's chunks output (jobs/extract_job.py --output/chunks — at
production scale the Iceberg chunks table) and commits the training-ready
subset (holdout split ∧ quality ∧ language ∧ keep-smallest LSH dedup ∧
13-gram decontamination; operators/training_set.select_training_chunks).

Outputs under --output:
  selected_chunks/     the selected rows + their quality/lang columns
  selection_lineage/   per-INPUT-doc checkpoint rows (run_id, doc_id,
                       n_chunks_in, n_chunks_selected, status ∈
                       {selected, filtered}, selected_at)
  packed_sequences/    (--pack) fixed-token-budget training-sequence
                       assignment of the COMMITTED selected set (bucketed
                       GPT-style concat-then-split; operators/
                       training_set.pack_chunks). Packing is a pure
                       function of the full selected table — offsets are
                       global per bucket — so when it runs it is
                       REGENERATED whole (atomic overwrite), never
                       incrementally appended: a resume that appends even
                       one doc shifts every later offset in its bucket.
                       That full-repack cost is gated: a resume that
                       committed ZERO new docs AND whose existing pack
                       carries a _PACKED_N marker equal to the committed
                       selected_chunks row count skips the repack (count
                       equality ⇒ identical set, since the table only
                       grows via keyed appends; the marker ships inside
                       the atomic swap, so a crash between the lineage
                       commit and the pack swap leaves a stale count and
                       forces the healing repack). Resume-safety comes
                       from its input being the idempotent
                       selected_chunks table.

--output may be a bare path OR any URI Spark can write (hdfs://, s3a://,
file://): the exactly-once machinery (existence probe, pack swap, marker
IO) goes through the Hadoop FileSystem API, so a bare path resolves
against fs.defaultFS exactly as Spark's writer resolves it
(sources/sinks.py module docstring; bare paths and file:// URIs are both
regression-tested). One caveat carries over from Hadoop itself: the pack
swap's crash analysis needs atomic rename, which object stores (S3A) do
not provide. There the keyed appends stay idempotent, but this job's
outputs always use the parquet protocol (--format picks only the input
reader), so point --output at HDFS or local disk when the pack swap must
survive a crash.

Exactly-once across crashes mirrors extract_job: selected_chunks is an
idempotent keyed append (key=id), the lineage COMMIT is written LAST — a
job killed between the two re-processes those docs on --resume, and the
key anti-join drops the replayed rows (reference ON CONFLICT DO NOTHING,
src/storage/postgres.py:104-106).

--resume semantics (deliberate, documented): the corpus-WIDE stages
(near-dup bucket minima, eval gram set) always recompute over the FULL
input chunk table — dedup against only the un-done remainder would change
the semantics (a resumed run must drop the same duplicates a clean run
drops). What resume skips is the per-doc WRITE side: docs already carrying
a lineage row are anti-joined out of the selected set before the append,
so a killed run's completed docs are not re-scored/re-written. At scale
the global stages are the two shingle shuffles already benchmarked in the
dedup suite; their recompute is the price of corpus-consistent dedup (the
alternative — persisting the drop-set as its own artifact — is exactly
what the disk-memoized driver variant does).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="chunks parquet path (or Iceberg table via --format)")
    p.add_argument("--output", required=True)
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--resume", action="store_true",
                   help="anti-join prior selection_lineage at --output")
    p.add_argument("--pack", action="store_true",
                   help="also emit packed_sequences/ over the committed "
                        "selected set (regenerated each run)")
    p.add_argument("--run-id", default=None)
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from docling_rag_spark.operators.training_set import select_training_chunks
    from docling_rag_spark.sources.sinks import (
        has_table,
        idempotent_append,
        marker_read,
        replace,
    )

    spark = SparkSession.builder.appName("docling-rag-select").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run_id = args.run_id or f"sel-{int(time.time())}"

    if args.format == "iceberg":
        try:
            chunks = spark.read.format("iceberg").load(args.input)
        except Exception as ex:  # no iceberg-spark-runtime jar in sandbox
            raise SystemExit(
                "--format iceberg needs iceberg-spark-runtime on the cluster "
                f"classpath: {ex}"
            ) from ex
    else:
        chunks = spark.read.parquet(args.input)

    lineage_dir = os.path.join(args.output, "selection_lineage")
    done_docs = None
    if args.resume and has_table(lineage_dir):
        # ANY lineage row (selected or fully filtered) marks the doc done —
        # otherwise zero-selected docs would re-score forever on resume
        done_docs = spark.read.parquet(lineage_dir).select("doc_id")

    # the selection plan always sees the FULL chunk table (see module
    # docstring: corpus-consistent dedup); resume trims only the write side
    selected = select_training_chunks(chunks)
    per_doc_in = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks_in")
    )
    if done_docs is not None:
        selected = selected.join(done_docs, "doc_id", "left_anti")
        per_doc_in = per_doc_in.join(done_docs, "doc_id", "left_anti")

    # the selected frame feeds both the chunk append and the lineage rollup;
    # localCheckpoint materializes the (expensive) selection ONCE instead of
    # re-running both shingle shuffles per output
    selected = selected.localCheckpoint(eager=True)

    idempotent_append(
        spark, selected, os.path.join(args.output, "selected_chunks"), key="id"
    )
    lineage = (
        per_doc_in.join(
            selected.groupBy("doc_id").agg(
                F.count("*").alias("n_chunks_selected")
            ),
            "doc_id",
            "left",
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "doc_id",
            "n_chunks_in",
            F.coalesce("n_chunks_selected", F.lit(0)).alias("n_chunks_selected"),
            F.when(F.coalesce("n_chunks_selected", F.lit(0)) > 0, "selected")
            .otherwise("filtered")
            .alias("status"),
            F.current_timestamp().alias("selected_at"),
        )
    )
    # lineage LAST (the commit point), keyed per doc: a crash before this
    # line leaves the docs resumable; replays of the chunk append above are
    # dropped by the id key
    idempotent_append(spark, lineage, lineage_dir, key=["doc_id"])

    lin = spark.read.parquet(lineage_dir)
    stats = {r["status"]: r["count"] for r in lin.groupBy("status").count().collect()}
    this_run = lin.filter(F.col("run_id") == run_id).count()

    if args.pack:
        from docling_rag_spark.operators.training_set import pack_chunks

        pack_dir = os.path.join(args.output, "packed_sequences")
        committed = spark.read.parquet(
            os.path.join(args.output, "selected_chunks")
        )
        n_committed = committed.count()
        # skip the full repack ONLY when the existing pack provably covers
        # the committed set: the _PACKED_N marker (written atomically with
        # the pack via the swap) records the selected_chunks row count the
        # pack was generated from. selected_chunks only grows (idempotent
        # keyed append), so count equality ⇒ identical set. `this_run == 0`
        # alone is NOT sufficient: a crash between the lineage commit and
        # the pack swap leaves every doc in lineage (next resume sees 0 new
        # docs) while packed_sequences still reflects the PREVIOUS commit —
        # the marker mismatch forces the repack that heals that window.
        packed_n = None
        if has_table(pack_dir):
            txt = marker_read(os.path.join(pack_dir, "_PACKED_N"))
            if txt is not None:
                packed_n = int(txt.strip() or "-1")
        if this_run == 0 and packed_n == n_committed:
            print(
                f"select_job --pack: committed set unchanged "
                f"({n_committed} rows), keeping {pack_dir}"
            )
        else:
            # atomic replace: the marker arrives with the same rename
            # that publishes the pack
            replace(
                pack_chunks(committed), pack_dir,
                files={"_PACKED_N": str(n_committed)},
            )
    print(
        f"select_job done run_id={run_id} docs_this_run={this_run} "
        f"lineage_total={stats}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
