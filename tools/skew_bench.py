"""Giant-document skew: narrow vs spread mode, with numbers.

Builds a deliberately skewed corpus — a few documents carry ~10^4× the
median span count (FIXTURES.md skew knob / SURVEY.md §7.3 #3) — and times
`run_extraction` in both modes at the same parallelism. Narrow pins each
giant to one task (stragglers); spread cuts documents into reading-order
slices and round-robins them across all tasks before the kernel. Appends the result table to BENCH.md.

Usage: python tools/skew_bench.py [n_giants] [giant_spans] [n_normal]
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def build_skew_corpus(spark, n_giants: int, giant_spans: int, n_normal: int, path: str):
    import os

    from pyspark.sql import functions as F

    from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    normal = spark.range(n_normal).select(
        F.concat(F.lit("n"), F.col("id")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(5)),
            lambda i: F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("normal doc body segment "), i).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                (i * 10).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    giants = spark.range(n_giants).select(
        F.concat(F.lit("g"), F.col("id")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(giant_spans - 1)),
            lambda i: F.struct(
                F.lit("html").alias("kind"),
                F.concat(
                    F.lit("<nav><a href='/'>x</a></nav><p>giant paragraph body "
                          "with enough characters to be kept as content "),
                    i,
                    F.lit("</p><footer><p>footer junk</p></footer>"),
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                (i * 10).cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    # giants concentrated in ONE input file — the worst case a real crawl
    # shard exhibits (narrow mode cannot split a row)
    normal.repartition(32).unionByName(giants.coalesce(1), allowMissingColumns=False)\
        .write.mode("overwrite").parquet(path)


def main() -> None:
    n_giants = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    giant_spans = int(sys.argv[2]) if len(sys.argv) > 2 else 60_000
    n_normal = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000

    from docling_rag_spark.pipeline import run_extraction
    from docling_rag_spark.session import get_spark

    spark = get_spark(master="local[32]", app_name="skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    path = str(REPO / "data" / f"skew_{n_giants}x{giant_spans}_{n_normal}.parquet")
    build_skew_corpus(spark, n_giants, giant_spans, n_normal, path)
    corpus = spark.read.parquet(path)
    n_docs = corpus.count()
    run_extraction(corpus.limit(64), run_id="warm")[0].count()

    results = {}
    for label, kw in [
        ("narrow", {"mode": "narrow"}),
        ("spread", {"mode": "spread", "repartition_to": 64}),
    ]:
        walls = []
        for i in range(3):
            t0 = time.time()
            n = run_extraction(corpus, run_id=f"{label}{i}", **kw)[0].count()
            walls.append(round(time.time() - t0, 1))
        results[label] = (statistics.median(walls), walls, n)
        print(label, results[label])
    spark.stop()

    nmed, nwalls, nspans = results["narrow"]
    smed, swalls, _ = results["spread"]
    with open(REPO / "BENCH.md", "a") as f:
        f.write(f"""
## Giant-document skew: narrow vs spread (tools/skew_bench.py)

Corpus: {n_giants} giant docs × {giant_spans} spans (all in ONE input file)
+ {n_normal} normal docs × 6 spans → {nspans} extracted spans, local[32].

| mode | wall median (s) | runs |
|---|---|---|
| narrow (doc-per-task) | {nmed} | {nwalls} |
| spread (64-span slices → round-robin repartition 64 → kernel → doc_id stitch) | {smed} | {swalls} |

Narrow pins each giant to one task — the stragglers set the wall clock.
Spread pays one shuffle of the payload bytes but spreads the giants' spans
over every core: the north-rule salting knob, **{round(nmed / smed, 2)}×**
faster under this skew. Default stays narrow (uniform corpora are the
common case; see the scaling table above).
""")
    print("appended to BENCH.md")


if __name__ == "__main__":
    main()
