"""Cluster job entrypoint for the Dolma-style tagger/mixer split:
spark-submit --py-files docling_rag_spark.zip jobs/attributes_job.py \
  --input <documents-table-or-path> --output <dir> [--resume] [--mix] \
  [--run-id ID]

Stage 1 (always): TAG — compute the single-pass per-doc attribute row
(operators/attributes.base_attributes_frame: counts, ratios, quality
logit/prob, language id, exact-dup digest) and commit it to
--output/doc_attributes via the idempotent keyed append (key=doc_id).
--resume anti-joins the already-tagged doc_ids first, so a killed run
re-tags only the remainder and replays are dropped by the key — same
exactly-once contract as extract_job/select_job.

Stage 2 (--mix): MIX — apply the keep policy
(operators/attributes.mix_verdict_cols) over the COMMITTED attributes
table and regenerate --output/mix_verdicts WHOLE via the atomic swap
protocol. The mixer reads ONLY the narrow attributes table — never the
document text — which is the point of the split: at 100 TB the taggers
are the corpus scan, a policy change re-runs just the mixer over a
numeric table orders of magnitude smaller. Verdicts are a pure function
of (attributes, policy), so they are regenerated whole, not appended
(the same regenerate-vs-append reasoning as select_job --pack).

--output may be a bare path or any URI Spark can write; the existence
probe / swap machinery goes through the Hadoop FileSystem API, so a bare
path resolves against fs.defaultFS as Spark's writer resolves it
(sources/sinks.py module docstring; S3A lacks the atomic rename the
swap's crash analysis needs, prefer hdfs:// there).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", default=None, help="documents parquet path "
                   "(required unless --mix-only)")
    p.add_argument("--output", required=True)
    p.add_argument("--resume", action="store_true",
                   help="skip docs already in --output/doc_attributes")
    p.add_argument("--mix", action="store_true",
                   help="also regenerate --output/mix_verdicts from the "
                        "committed attributes (atomic swap)")
    p.add_argument("--mix-only", action="store_true",
                   help="policy iteration: skip tagging entirely and "
                        "regenerate the verdicts from the COMMITTED "
                        "attributes — the corpus is never read")
    p.add_argument("--policy", default=None,
                   help="JSON file overriding any subset of "
                        "operators.attributes.DEFAULT_POLICY (min_tokens, "
                        "min_stopword, min_quality, langs, max_blocked); "
                        "unknown keys "
                        "fail loud")
    p.add_argument("--run-id", default=None)
    args = p.parse_args()
    if not args.mix_only and not args.input:
        p.error("--input is required unless --mix-only")
    if args.policy and not (args.mix or args.mix_only):
        p.error("--policy requires --mix or --mix-only (verdicts are "
                "not regenerated otherwise — the policy would be "
                "silently ignored)")

    from pyspark.sql import SparkSession

    from docling_rag_spark.operators.attributes import (
        base_attributes_frame,
        mixer_frame,
    )
    from docling_rag_spark.sources.sinks import has_table, idempotent_append, replace

    spark = SparkSession.builder.appName("docling-rag-attributes").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run_id = args.run_id or f"tag-{int(time.time())}"

    attr_dir = os.path.join(args.output, "doc_attributes")

    # the count is part of the TAG stage's summary — a --mix-only policy
    # iteration must cost exactly ONE scan of the narrow table (the mixer
    # read), not a second one for a log line
    n_tagged = "unchanged"
    if not args.mix_only:
        docs = spark.read.parquet(args.input)
        todo = docs
        if args.resume and has_table(attr_dir):
            done = spark.read.parquet(attr_dir).select("doc_id")
            todo = docs.join(done, "doc_id", "left_anti")
        tagged = base_attributes_frame(todo)
        idempotent_append(spark, tagged, attr_dir, key="doc_id")
        n_tagged = spark.read.parquet(attr_dir).count()
    elif not has_table(attr_dir):
        raise SystemExit(f"--mix-only: no committed attributes at {attr_dir}")

    if args.mix or args.mix_only:
        policy = None
        if args.policy:
            import json

            with open(args.policy) as fh:
                policy = json.load(fh)
        verdicts = mixer_frame(spark.read.parquet(attr_dir), policy)
        replace(verdicts, os.path.join(args.output, "mix_verdicts"))

    print(f"attributes_job done run_id={run_id} attributes_total={n_tagged}")
    spark.stop()


if __name__ == "__main__":
    main()
