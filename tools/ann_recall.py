"""Measure ANN recall@k and scored-candidate cost vs exact brute force.

The LSH/IVF driver queries are oracle-exact BY CONSTRUCTION (both engines
prune identically) — this tool measures what the pruning COSTS in recall:
for each variant, recall@k = |topk_variant ∩ topk_bruteforce| / k, and the
cost proxy is the fraction of the table the variant actually scores
(bucket / probed-cell occupancy). Results go into BENCH.md's recall table.

Usage: python tools/ann_recall.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from docling_rag_spark.operators import similarity as S  # noqa: E402
from docling_rag_spark.operators.common import table  # noqa: E402
from docling_rag_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(master="local[8]", app_name="ann-recall")
    spark.sparkContext.setLogLevel("ERROR")
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = S.IVF_TOP_K

    exact = [
        r["vec_id"]
        for r in S.knn_bruteforce(spark, sf_dir).limit(k).collect()
    ]

    results = {}

    # multi-probe LSH: scored fraction = occupancy of the query's bucket
    # and its hamming-1 neighbours
    planes = S._plane_weights()
    q = S._query_vec(spark, sf_dir)
    qbucket = 0
    for p, w in enumerate(planes):
        if sum(x * y for x, y in zip(q, w)) > 0:
            qbucket |= 1 << p
    probes = [qbucket] + [qbucket ^ (1 << p) for p in range(S.LSH_PLANES)]
    scored_mp = (
        emb.withColumn("b", S._bucket_col(F.col("embedding"), planes))
        .filter(F.col("b").isin(probes))
        .count()
    )
    got = [r["vec_id"] for r in S.knn_lsh_multiprobe(spark, sf_dir).collect()]
    results["lsh_multiprobe_h1"] = {
        "recall_at_k": len(set(got) & set(exact)) / k,
        "scored_frac": round(scored_mp / n, 4),
    }

    # IVF at nprobe 1/2/4: scored fraction = probed-cell occupancy
    cents = S._train_centroids(spark, emb)
    assigned = S._assign_cells(emb, S._centroids_df(spark, cents)).cache()
    cell_sizes = {
        r["cell"]: r["n"]
        for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    ranked_cells = [
        cid
        for cid, _ in sorted(
            ((cid, S._py_cos(q, v)) for cid, v in cents.items()),
            key=lambda t: (-t[1], t[0]),
        )
    ]
    for nprobe in (1, 2, 4):
        got = [r["vec_id"] for r in S.knn_ivf(spark, sf_dir, nprobe=nprobe).collect()]
        scored = sum(cell_sizes.get(c, 0) for c in ranked_cells[:nprobe])
        results[f"ivf_k{S.IVF_CENTROIDS}_nprobe{nprobe}"] = {
            "recall_at_k": len(set(got) & set(exact)) / k,
            "scored_frac": round(scored / n, 4),
        }
    assigned.unpersist()

    # batch ANN (knn_ivf_batch): mean per-query recall@k vs per-query exact
    # brute force (one plan: queries × table, per-query rank window)
    from pyspark.sql import Window

    qs = emb.filter(F.col("vec_id") % S.BATCH_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    sim = F.round(
        S._dot(F.col("embedding"), F.col("qv"))
        / (S._norm(F.col("embedding")) * S._norm(F.col("qv"))),
        6,
    )
    wk = Window.partitionBy("qid").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    exact_batch = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= S.BATCH_TOP_K)
        .collect()
    )
    want: dict[int, set] = {}
    for r in exact_batch:
        want.setdefault(r["qid"], set()).add(r["vec_id"])
    got_rows = S.knn_ivf_batch(spark, sf_dir).collect()
    got_by_q: dict[int, set] = {}
    for r in got_rows:
        got_by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [
        len(got_by_q.get(qid, set()) & w) / S.BATCH_TOP_K
        for qid, w in want.items()
    ]
    # exact scored fraction: each query scans its BATCH_NPROBE top cells
    qvecs = {r["qid"]: [float(x) for x in r["qv"]] for r in qs.collect()}
    per_q_scored = []
    for qid, qv in qvecs.items():
        ranked = [
            cid
            for cid, _ in sorted(
                ((cid, S._py_cos(qv, v)) for cid, v in cents.items()),
                key=lambda t: (-t[1], t[0]),
            )
        ]
        per_q_scored.append(
            sum(cell_sizes.get(c, 0) for c in ranked[: S.BATCH_NPROBE])
        )
    results[f"ivf_batch_nprobe{S.BATCH_NPROBE}"] = {
        "n_queries": len(want),
        "mean_recall_at_k": round(sum(recalls) / len(recalls), 4),
        "min_recall_at_k": round(min(recalls), 4),
        "scored_frac": round(
            sum(per_q_scored) / len(per_q_scored) / n, 4
        ),
    }

    print(json.dumps({"sf_dir": sf_dir, "n_vectors": n, "k": k,
                      "variants": results}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
