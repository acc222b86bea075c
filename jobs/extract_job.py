"""Cluster job entrypoint: spark-submit --py-files docling_rag_spark.zip \
jobs/extract_job.py --input <table-or-path> --output <dir> [--resume] ...

The north-rule deployment shape (BASELINE.json:14): the same code that runs
in tests/bench ships unchanged to a cluster; parallelism and memory come
from spark-submit --conf / --num-executors, not from code. This job builds
its session from the submit conf (it does not call session.get_spark), so
ship get_spark's settings with it, including
``--conf spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``:
without it AQE cannot coalesce the partitions of an exchange inside a
cached plan. commit_extraction caches the kernel output in both modes; in
spread mode that frame holds the doc_id exchange in front of the stitch
kernel.

Outputs under --output, written by one pipeline.commit_extraction call
(the streaming ingest's commit too): keyed idempotent appends, lineage
last.
  extracted_spans/   ordered (doc_id, order, kind, text, media_ref,
                     page_num), key (doc_id, order)
  chunks/            reference-recipe chunks (md5 ids, 512-token budget;
                     an embedding column with --embed), key id
  doc_metadata/      per-doc rollup (doc_type, language, num_chunks, ...)
                     of the processed docs, key doc_id
  lineage/           per-doc checkpoint rows (run_id, partition_id, status,
                     error, n_spans_in, n_blocks_out), key (run_id, doc_id)

--resume anti-joins the existing lineage (status=processed) so a killed run
re-does only unfinished documents (E16, reference postgres.py:253-262).

--output may be a bare path OR any URI Spark can write (hdfs://, s3a://,
file://): the exactly-once machinery (existence probe, _reingest_pending
marker, swap recovery) goes through the Hadoop FileSystem API, so a bare
path resolves against fs.defaultFS exactly as Spark's writer resolves it
(see the sources/sinks.py module docstring). --format picks only the
input reader: the outputs always use the parquet protocol. Its
rewrite-minus swap in delete_docs (--reingest-modified) needs atomic
rename — local disk and HDFS have it, S3A does not — so point --output
at one of those when row replacement must survive a crash.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="parquet path (or Iceberg table via --format iceberg)")
    p.add_argument("--output", required=True)
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--mode", default="narrow",
                   choices=["narrow", "spread", "auto"])
    p.add_argument("--repartition-to", type=int, default=None,
                   help="round-robin the kernel rows to N partitions: whole "
                        "docs in narrow mode, slices in spread mode")
    p.add_argument("--resume", action="store_true",
                   help="anti-join prior lineage at --output/lineage")
    p.add_argument("--reingest-modified", action="store_true",
                   help="with --resume: re-process docs whose modified_at "
                        "column exceeds their last lineage ingested_at "
                        "(E17, reference src/utils.py:141-147); their stale "
                        "output rows are deleted before the append")
    p.add_argument("--run-id", default=None)
    p.add_argument("--embed", action="store_true",
                   help="attach embeddings to chunks (E14 stage)")
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from docling_rag_spark.pipeline import commit_extraction, resume_filter
    from docling_rag_spark.sources.sinks import (
        delete_docs,
        has_table,
        marker_read,
        marker_remove,
        marker_write,
    )

    # On a cluster, spark-submit provides master/conf; builder only names the app.
    spark = SparkSession.builder.appName("docling-rag-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    run_id = args.run_id or f"run-{int(time.time())}"
    if args.format == "iceberg":
        try:
            docs = spark.read.format("iceberg").load(args.input)
        except Exception as ex:  # no iceberg-spark-runtime jar in sandbox
            raise SystemExit(
                "--format iceberg needs iceberg-spark-runtime on the cluster "
                "classpath (spark-submit --packages org.apache.iceberg:"
                f"iceberg-spark-runtime-4.0_2.13:<ver>): {ex}"
            ) from ex
    else:
        docs = spark.read.parquet(args.input)

    lineage_dir = os.path.join(args.output, "lineage")
    prior = None
    if args.resume and has_table(lineage_dir):
        prior = spark.read.parquet(lineage_dir)

    # resume-filter ONCE here so commit_extraction's doc_metadata also sees
    # only the docs this run actually processes (metadata over the full
    # input would append empty/duplicate rows for already-done docs)
    modified_col = (
        "modified_at"
        if args.reingest_modified and "modified_at" in docs.columns
        else None
    )
    # an interrupted re-ingest leaves output rows deleted but lineage still
    # 'processed' — resuming WITHOUT --reingest-modified would then skip
    # those docs forever. The marker forces the operator to finish what was
    # started (the modified-predicate recomputes the same redo set, deletes
    # are idempotent, and the run converges).
    pending_marker = os.path.join(args.output, "_reingest_pending")
    if marker_read(pending_marker) is not None and not args.reingest_modified:
        raise SystemExit(
            "a previous --reingest-modified run was interrupted mid-replace; "
            "rerun with --resume --reingest-modified to converge"
        )
    todo = resume_filter(docs, prior, modified_col=modified_col)
    if modified_col and prior is not None:
        # row replacement for re-ingested docs: delete their stale rows so
        # the keyed appends below insert the NEW extraction instead of
        # dropping it (Iceberg: MERGE / DELETE WHERE doc_id IN ...). Only
        # docs that actually HAVE committed output (a processed lineage
        # row) are rewritten — brand-new docs must not trigger a
        # full-table rewrite — and an empty redo set skips it entirely.
        done_ids = prior.filter(F.col("status") == "processed").select("doc_id")
        redo_ids = (
            todo.select("doc_id").join(done_ids, "doc_id", "left_semi")
        ).localCheckpoint(eager=True)
        if redo_ids.limit(1).count() > 0:
            marker_write(pending_marker)
            for sub in ("extracted_spans", "chunks", "doc_metadata"):
                delete_docs(spark, os.path.join(args.output, sub), redo_ids)
    commit_extraction(
        spark, todo, args.output, run_id, mode=args.mode,
        embed=args.embed, repartition_to=args.repartition_to,
    )
    marker_remove(pending_marker)  # replacement fully committed

    n = spark.read.parquet(lineage_dir)
    stats = {r["status"]: r["count"] for r in n.groupBy("status").count().collect()}
    # this-run count from the lineage that was just appended (cumulative
    # totals alone can't show that a --resume run processed 0 new docs)
    this_run = n.filter(F.col("run_id") == run_id).count()
    print(
        f"extract_job done run_id={run_id} docs_this_run={this_run} "
        f"lineage_total={stats}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
