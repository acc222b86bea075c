"""Bloom-vs-exact decontamination crossover measurement.

At sandbox scale AQE broadcasts the tiny eval 13-gram set, so
`decontaminate` (exact digest join) and `decontaminate_bloom` measure
alike — the regimes only separate when the eval set outgrows the broadcast
budget. This tool makes that regime measurable without 100 TB:

  1. replicate the sf0.1 documents table R× with per-replica UNIQUE tail
     grams (text || ' ' || md5(new_doc_id) — 13 new distinct 13-grams per
     row), so the distinct eval-gram set genuinely grows with R instead of
     collapsing under replication;
  2. run BOTH operators under the SAME lowered broadcast threshold (2 MiB,
     autoBroadcastJoinThreshold + the AQE variant) — the stand-in for "the
     eval set no longer fits the broadcast budget" at cluster scale. The
     bloom bitmap still broadcasts because it is STRUCTURALLY ≤ 128 KiB
     (2^20 bits) no matter how large the eval set; the exact path's build
     side exceeds the budget, so its training grams must shuffle;
  3. report wall + ACTUAL shuffle bytes/records per operator via the
     status REST API (the Spark UI's per-stage shuffle write totals).

Usage: python tools/bloom_crossover.py [R] [cores]   (default R=16 cores=16)
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

THRESHOLD = 2 * 1024 * 1024  # 2 MiB "broadcast budget"


def _stages(ui: str, app_id: str) -> list[dict]:
    import urllib.request

    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        return json.loads(r.read())


def main() -> int:
    r_mult = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from pyspark.sql import functions as F

    from docling_rag_spark.operators.training_set import (
        decontaminate,
        decontaminate_bloom,
    )
    from docling_rag_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app_name=f"bloomcross-x{r_mult}",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4124",
            "spark.sql.autoBroadcastJoinThreshold": str(THRESHOLD),
            "spark.sql.adaptive.autoBroadcastJoinThreshold": str(THRESHOLD),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # replicated corpus with per-replica unique tail grams; doc_id layout
    # keeps the %50 eval predicate meaningful: new_id % 50 == rep % 50
    # (1000 ≡ 0 mod 50), so eval is 2% of REPLICAS and its distinct grams
    # grow ~13 per eval row
    sf_dir = os.path.join(REPO, "data", f"bloomx_r{r_mult}")
    pq = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(os.path.join(pq, "_SUCCESS")):
        base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        reps = spark.range(r_mult).select(F.col("id").alias("rep"))
        big = base.crossJoin(reps).select(
            (F.col("doc_id") * 1000 + F.col("rep")).alias("doc_id"),
            F.concat_ws(
                " ", "text", F.md5((F.col("doc_id") * 1000 + F.col("rep")).cast("string"))
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        big.repartition(64).write.mode("overwrite").parquet(pq)

    results = []
    for name, fn in [("decontaminate", decontaminate), ("decontaminate_bloom", decontaminate_bloom)]:

        def run() -> None:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        run()  # warm: codegen
        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        seen = {(s["stageId"], s["attemptId"]) for s in _stages(ui, app_id)}
        gc.collect()
        t0 = time.time()
        run()
        wall = time.time() - t0
        after = [
            s
            for s in _stages(ui, app_id)
            if (s["stageId"], s["attemptId"]) not in seen
        ]
        results.append(
            {
                "query": name,
                "r_mult": r_mult,
                "cores": cores,
                "broadcast_threshold": THRESHOLD,
                "wall_sec": round(wall, 2),
                "n_stages": len(after),
                "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in after),
                "shuffle_write_records": sum(
                    s["shuffleWriteRecords"] for s in after
                ),
                "input_bytes": sum(s["inputBytes"] for s in after),
            }
        )
    spark.stop()
    for row in results:
        print(json.dumps(row))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
