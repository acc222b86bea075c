"""Similarity search over the `embeddings` table (array<float> column).

Reference analog: pgvector cosine top-k with HNSW
(reference src/storage/postgres.py:127-164, docker/init.sql:20). Spark has
no vector index; the baseline is a brute-force exact top-k — Catalyst
compiles orderBy+limit into TakeOrderedAndProject (distributed partial
top-k, NO global sort), which is the right plan at any scale. The scale
path is LSH bucketing (random-hyperplane signs): candidates are pruned to
the query's bucket and its hamming-1 neighbours before scoring.

Numeric portability: vectors are cast to double BEFORE multiplication and
summed in index order on both sides (Spark: aggregate() left fold; DuckDB:
list_sum(list_transform(...))), so the oracle matches bit-for-bit; results
round to 6 dp anyway.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from .common import table

TOP_K = 10
LSH_PLANES = 4  # 16 buckets — coarse enough that every bucket is populated
LSH_TOP_K = 5
DIM = 64
QUERY_VEC_ID = 0


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row["embedding"]]


def _lit_vec(v: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-K to the query vector (vec_id=0), excluding itself.
    Plan: scan → codegen cosine → TakeOrderedAndProject(K)."""
    q = _query_vec(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    qcol = _lit_vec(q)
    sim = F.round(
        _dot(F.col("embedding"), qcol) / (_norm(F.col("embedding")) * _norm(qcol)), 6
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {DIM} + 1), "
        f"i -> {a}[i]::double * {b}[i]::double))"
    )


KNN_BRUTEFORCE_SQL = f"""
with q as (select embedding as qv from embeddings where vec_id = {QUERY_VEC_ID})
select vec_id, label,
       round({_dot_sql('embedding', 'qv')}
             / (sqrt({_dot_sql('embedding', 'embedding')})
                * sqrt({_dot_sql('qv', 'qv')})), 6) as cosine_sim
from embeddings, q
where vec_id != {QUERY_VEC_ID}
order by cosine_sim desc, vec_id asc
limit {TOP_K}
"""


# --------------------------------------------------------------------------
# LSH-bucketed ANN: deterministic md5-derived random hyperplanes
# --------------------------------------------------------------------------
def _plane_weights() -> list[list[float]]:
    """weights[p][d] = ±1 from the parity of md5('{p}|{d}') — deterministic
    and embeddable as literals in BOTH the Spark plan and the oracle SQL."""
    planes = []
    for p in range(LSH_PLANES):
        row = []
        for d in range(DIM):
            h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _bucket_col(emb: Column, planes: list[list[float]]) -> Column:
    b = F.lit(0)
    for p, w in enumerate(planes):
        b = b + F.when(_dot(emb, _lit_vec(w)) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return b


def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: score the query's bucket PLUS every hamming-1
    neighbor bucket (one sign flip per plane) — the standard recall fix for
    sign-LSH when true neighbors straddle a hyperplane (measured on this
    corpus: single-bucket recall@5 = 0.0 because the embedding space is
    near-orthogonal; probing the 4 neighbor buckets recovers the true
    top-k at ~(1+P)/2^P of the table scored). Same pruning story at scale:
    bucket ids are partition keys, 1+P partitions scanned instead of 1."""
    planes = _plane_weights()
    q = _query_vec(spark, sf_dir)
    qbucket = 0
    for p, w in enumerate(planes):
        if sum(x * y for x, y in zip(q, w)) > 0:
            qbucket |= 1 << p
    probes = [qbucket] + [qbucket ^ (1 << p) for p in range(LSH_PLANES)]
    emb = table(spark, sf_dir, "embeddings")
    qcol = _lit_vec(q)
    sim = F.round(
        _dot(F.col("embedding"), qcol) / (_norm(F.col("embedding")) * _norm(qcol)), 6
    )
    return (
        emb.withColumn("bucket", _bucket_col(F.col("embedding"), planes))
        .filter(F.col("bucket").isin(probes) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(LSH_TOP_K)
    )


def _bucket_sql(emb: str) -> str:
    planes = _plane_weights()
    parts = []
    for p, w in enumerate(planes):
        wlit = "[" + ", ".join(str(x) for x in w) + "]"
        parts.append(
            f"(case when {_dot_sql(emb, wlit)} > 0 then {1 << p} else 0 end)"
        )
    return "(" + " + ".join(parts) + ")"


_PROBE_XORS = ", ".join(
    ["qbucket"] + [f"xor(qbucket, {1 << p})" for p in range(LSH_PLANES)]
)
KNN_LSH_MULTIPROBE_SQL = f"""
with q as (
  select embedding as qv, {_bucket_sql('embedding')} as qbucket
  from embeddings where vec_id = {QUERY_VEC_ID}
)
select vec_id, label,
       round({_dot_sql('embedding', 'qv')}
             / (sqrt({_dot_sql('embedding', 'embedding')})
                * sqrt({_dot_sql('qv', 'qv')})), 6) as cosine_sim
from embeddings, q
where {_bucket_sql('embedding')} in ({_PROBE_XORS})
  and vec_id != {QUERY_VEC_ID}
order by cosine_sim desc, vec_id asc
limit {LSH_TOP_K}
"""

QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "knn_lsh_multiprobe": knn_lsh_multiprobe,
}
ORACLES = {
    "knn_bruteforce": KNN_BRUTEFORCE_SQL,
    "knn_lsh_multiprobe": KNN_LSH_MULTIPROBE_SQL,
}


# --------------------------------------------------------------------------
# IVF ANN: coarse quantization by TRAINED centroid cell, probe 1 cell.
#
# Training = deterministic k-means: farthest-point (k-center greedy) init
# — data-dependent like k-means++ but RNG-free so the oracle replays it —
# then KMEANS_ITERS assignment→mean Lloyd rounds with EXACT arithmetic: each
# dimension's mean is sum(round(x*10^6))::bigint / (10^6 * count), an
# integer sum (order-independent) divided once in double — so the DuckDB
# oracle replays the identical training inside static SQL and both engines
# agree bit-for-bit. Empty cells keep their previous centroid.
#
# At 10^12 vectors this is the standard distributed recipe: assignment is
# an embarrassingly-parallel broadcast crossJoin (K×DIM doubles), per-dim
# means are one groupBy(cell, dim) shuffle of bigints, and the trained
# cell id becomes the table's partition key (nprobe=1 scans 1/K of data).
# --------------------------------------------------------------------------
IVF_CENTROIDS = 8
IVF_TOP_K = 5
KMEANS_ITERS = 2
_KM_SCALE = 1_000_000


def _assign_cells(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """cell(v) = argmax cosine(v, centroid), ties → lowest centroid id."""
    from pyspark.sql import Window

    sims = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "embedding",
        "cid",
        (
            _dot(F.col("embedding"), F.col("cvec"))
            / (_norm(F.col("embedding")) * _norm(F.col("cvec")))
        ).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "embedding", F.col("cid").alias("cell"))
    )


## Seeding sample: vectors whose md5(vec_id-as-string) hex starts below this
## threshold — a deterministic ~1/8 hash sample expressible identically in
## Spark and static DuckDB SQL (lexicographic compare on the hex digest).
## At 10^12 vectors tighten the prefix (e.g. '0001') so the pool stays
## driver-sized; the pool is ALWAYS topped up with the K lowest vec_ids so
## it can never be smaller than K.
SEED_SAMPLE_MAX_MD5 = "2"


def _seed_pool(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """ONE table pass: collect the deterministic hash-sampled seed pool
    (plus the K lowest vec_ids as a floor) to the driver, sorted by vec_id."""
    sampled = emb.filter(
        F.md5(F.col("vec_id").cast("string")) < SEED_SAMPLE_MAX_MD5
    ).select("vec_id", "embedding")
    low = emb.orderBy("vec_id").limit(IVF_CENTROIDS).select("vec_id", "embedding")
    rows = sampled.union(low).dropDuplicates(["vec_id"]).collect()
    return sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    )


def _seed_centroids(emb: DataFrame) -> dict[int, list]:
    """Deterministic farthest-point (k-center greedy) init on a hash-sampled
    pool — data-dependent like k-means++ but RNG-free so the DuckDB oracle
    replays it, and O(1) table passes instead of K-1 full scans (the
    round-2 scale fix): the pool is collected once (driver-sized), then the
    greedy argmin loop runs locally. Seed 0 is the pool's lowest vec_id;
    each next seed is the pool vector whose MAX cosine similarity to the
    chosen set is smallest (ties → lowest vec_id, via ascending iteration
    + strict <). Cosines use the same in-index-order double left-fold as
    the SQL (_py_cos ↔ _dot_sql)."""
    pool = _seed_pool(emb)
    chosen: list[list[float]] = [pool[0][1]]
    for _ in range(IVF_CENTROIDS - 1):
        best_ms, best_vec = None, None
        for _vid, vec in pool:
            ms = max(_py_cos(vec, c) for c in chosen)
            if best_ms is None or ms < best_ms:
                best_ms, best_vec = ms, vec
        chosen.append(best_vec)
    return {i: c for i, c in enumerate(chosen)}


def _train_centroids(spark: SparkSession, emb: DataFrame) -> dict[int, list]:
    """Farthest-point init + KMEANS_ITERS Lloyd rounds; returns the trained
    {cid: centroid} dict. Centroids are collected to the driver between
    rounds (K×DIM doubles — a broadcast-sized artifact, like any k-means
    implementation)."""
    cents = _seed_centroids(emb)
    for _ in range(KMEANS_ITERS):
        cents_df = _centroids_df(spark, cents)
        assigned = _assign_cells(emb, cents_df)
        sums = (
            assigned.select(
                "cell",
                F.posexplode(F.col("embedding").cast("array<double>")).alias(
                    "d", "val"
                ),
            )
            .withColumn("iv", F.round(F.col("val") * _KM_SCALE).cast("bigint"))
            .groupBy("cell", "d")
            .agg(F.sum("iv").alias("s"), F.count("*").alias("c"))
        )
        new: dict[int, dict[int, float]] = {}
        for r in sums.collect():
            new.setdefault(r["cell"], {})[r["d"]] = r["s"] / (_KM_SCALE * r["c"])
        cents = {
            cid: [new[cid][d] for d in range(DIM)] if cid in new else vec
            for cid, vec in cents.items()
        }
    return cents


def _centroids_df(spark: SparkSession, cents: dict[int, list]) -> DataFrame:
    return spark.createDataFrame(sorted(cents.items()), "cid int, cvec array<double>")


def _py_cos(a: list, b: list) -> float:
    # in-order left-fold double arithmetic — matches the SQL/Catalyst folds
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
        na += float(x) * float(x)
        nb += float(y) * float(y)
    return dot / (na**0.5 * nb**0.5)


def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict[int, list]]:
    """The trained IVF index as a PERSISTED artifact — (assigned table,
    centroids). Training (seed sample + Lloyd rounds) is a one-time heavy
    build exactly like the reference's HNSW index build (docker/init.sql:20);
    queries must only PROBE it. Two artifact-store memos: the centroids,
    then the cells assigned from them (any IVF constant or recipe edit
    invalidates both); a corrupt stored index fails loud instead of being
    retrained in-session (round-4 verdict #7). In production this is the
    Iceberg table ``PARTITIONED BY (cell)`` plus a tiny centroids table."""
    emb = table(spark, sf_dir, "embeddings")
    cents_df = artifacts.parquet(
        spark, "ivf_centroids", sf_dir,
        lambda: _centroids_df(spark, _train_centroids(spark, emb)),
    )
    assigned = artifacts.parquet(
        spark, "ivf_assigned", sf_dir, lambda: _assign_cells(emb, cents_df)
    )
    cents = {
        int(r["cid"]): [float(x) for x in r["cvec"]] for r in cents_df.collect()
    }
    return assigned, cents


def knn_ivf(spark: SparkSession, sf_dir: str, nprobe: int = 1) -> DataFrame:
    """ANN: score only the query's ``nprobe`` nearest trained-IVF cells
    (the standard IVF recall/cost knob; nprobe=1 scans 1/K of the data).
    Probes the persisted index (_ivf_index — built once per sf, like the
    reference's one-time HNSW build); centroids are driver-side, so the
    plan is scan → cell filter → TakeOrdered."""
    assigned, cents = _ivf_index(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    qcol = _lit_vec(q)
    qcells = [
        cid
        for cid, _ in sorted(
            ((cid, _py_cos(q, v)) for cid, v in cents.items()),
            key=lambda t: (-t[1], t[0]),
        )[:nprobe]
    ]
    sim = F.round(
        _dot(F.col("embedding"), qcol) / (_norm(F.col("embedding")) * _norm(qcol)), 6
    )
    return (
        assigned.filter(
            F.col("cell").isin(qcells) & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(IVF_TOP_K)
    )


def knn_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_ivf(spark, sf_dir, nprobe=2)


# Batch-of-queries ANN (round-4 verdict #3): N query vectors against the
# persisted IVF index in ONE plan. The query set is a deterministic slice of
# the embeddings table (vec_id % BATCH_Q_MOD == 0) standing in for "the
# vectors a dedup/serving pipeline would look up this batch".
BATCH_Q_MOD = 37
BATCH_TOP_K = 5
# nprobe=2 for the batch: across the 55-query batch, single-cell probing
# averages only 0.32 recall@5 on this corpus (queries near cell boundaries
# miss neighbors in the runner-up cell); two cells recover most of it at
# ~2/K of the table scanned per query (tools/ann_recall.py → BENCH.md).
BATCH_NPROBE = 2


def knn_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query IVF top-k for a whole BATCH of query vectors in one plan:
    queries ⋈ broadcast centroids → BATCH_NPROBE nearest cells per query →
    join the (qid, cell, qv) probe table against the cell-partitioned
    index → score → per-query top-k window. Cells partition the index, so
    multi-cell candidates are disjoint — no dedup stage.

    Scale shape: the index side is scanned ONCE and only the probed cells'
    rows survive the cell join (on a real cluster the Iceberg index table
    is PARTITIONED BY (cell), so non-probed cells prune at the scan); each
    query pays ~corpus/K candidate rows, and the only shuffle is the
    per-qid window over candidates — never a crossJoin against the full
    table. The probe table carries NO forced broadcast hint: the query
    batch is caller-sized (a serving batch is tiny; a bulk self-lookup is
    the corpus), so the choice belongs to AQE's runtime measurement —
    same policy as the training-set anti-joins, and cheaper than the
    round-5 interim size-gate, which paid an eager count() job at every
    plan construction. At sandbox scale AQE broadcasts (final-plan
    asserted); a corpus-sized batch degrades to a shuffle join on cell
    instead of a driver OOM. The reference serves one query per HNSW
    probe (src/storage/postgres.py:127-164); this is the pipeline-scale
    analog."""
    from pyspark.sql import Window

    assigned, cents = _ivf_index(spark, sf_dir)
    cdf = _centroids_df(spark, cents)
    q = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % BATCH_Q_MOD == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    csim = _dot(F.col("qv"), F.col("cvec")) / (
        _norm(F.col("qv")) * _norm(F.col("cvec"))
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    qcell = (
        q.crossJoin(F.broadcast(cdf))  # ≤ IVF_CENTROIDS rows per query
        .withColumn("csim", csim)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= BATCH_NPROBE)
        .select("qid", "qv", F.col("cid").alias("cell"))
    )
    sim = F.round(
        _dot(F.col("embedding"), F.col("qv"))
        / (_norm(F.col("embedding")) * _norm(F.col("qv"))),
        6,
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        assigned.join(qcell, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "label", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= BATCH_TOP_K)
    )


def _assign_sql(cents: str, out: str) -> str:
    return f"""
{out} as materialized (
  select vec_id, label, embedding, cid as cell from (
    select e.vec_id, e.label, e.embedding, c.cid,
           row_number() over (
             partition by e.vec_id
             order by {_dot_sql('e.embedding', 'c.cvec')}
                      / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                         * sqrt({_dot_sql('c.cvec', 'c.cvec')})) desc,
                      c.cid asc
           ) as rn
    from embeddings e cross join {cents} c
  ) where rn = 1
)"""


def _mean_sql(assigned: str, prev: str, out: str) -> str:
    """Exact per-dim means of one Lloyd round; empty cells inherit prev."""
    return f"""
{out}_m as materialized (
  select cell, i,
         sum(cast(round(embedding[i]::double * {_KM_SCALE}) as bigint))::double
           / ({_KM_SCALE}.0 * count(*)) as cd
  from {assigned}, unnest(range(1, {DIM} + 1)) as t(i)
  group by cell, i
),
{out} as materialized (
  select cell as cid, list(cd order by i) as cvec from {out}_m group by cell
  union all
  select cid, cvec from {prev}
  where cid not in (select cell from {out}_m)
)"""


def _seed_sql_parts() -> list[str]:
    """Farthest-point init over the hash-sampled seed pool, as a CTE chain
    pool → s0..s{K-1} (each one row), then c0 = their union — the exact
    mirror of _seed_pool + _seed_centroids (same md5-prefix sample, same
    lowest-K floor, same argmin/tie order)."""
    parts = [
        f"""pool as materialized (
  select vec_id, list_transform(embedding, x -> x::double) as cvec
  from embeddings
  where md5(cast(vec_id as varchar)) < '{SEED_SAMPLE_MAX_MD5}'
     or vec_id in (select vec_id from embeddings
                   order by vec_id limit {IVF_CENTROIDS})
)""",
        """s0 as materialized (
  select 0 as cid, cvec from pool order by vec_id limit 1
)""",
    ]
    for i in range(1, IVF_CENTROIDS):
        sims = [
            f"{_dot_sql('e.cvec', f's{j}.cvec')}"
            f" / (sqrt({_dot_sql('e.cvec', 'e.cvec')})"
            f" * sqrt({_dot_sql(f's{j}.cvec', f's{j}.cvec')}))"
            for j in range(i)
        ]
        ms = sims[0] if i == 1 else "greatest(" + ", ".join(sims) + ")"
        froms = ", ".join(["pool e"] + [f"s{j}" for j in range(i)])
        parts.append(
            f"""s{i} as materialized (
  select {i} as cid, e.cvec
  from {froms}
  order by {ms} asc, e.vec_id asc limit 1
)"""
        )
    union = "\n  union all\n  ".join(
        f"select cid, cvec from s{i}" for i in range(IVF_CENTROIDS)
    )
    parts.append(f"""c0 as materialized (
  {union}
)""")
    return parts


def _trained_assign_parts() -> tuple[list[str], str]:
    """Shared static-SQL replay of _train_centroids + final assignment:
    the seed chain, KMEANS_ITERS assign/mean rounds, and a final ``assigned``
    CTE. Returns (cte_parts, name_of_final_centroid_cte)."""
    parts = _seed_sql_parts()
    prev = "c0"
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(_assign_sql(prev, f"a{it}"))
        parts.append(_mean_sql(f"a{it}", prev, f"c{it}"))
        prev = f"c{it}"
    parts.append(_assign_sql(prev, "assigned"))
    return parts, prev


def _knn_ivf_sql(nprobe: int = 1) -> str:
    parts, prev = _trained_assign_parts()
    ctes = ",\n".join(parts)
    return f"""
with {ctes},
q as materialized (
  select embedding as qv from embeddings where vec_id = {QUERY_VEC_ID}
),
qcells as materialized (
  select cid from {prev}, q
  order by {_dot_sql('cvec', 'qv')}
           / (sqrt({_dot_sql('cvec', 'cvec')}) * sqrt({_dot_sql('qv', 'qv')}))
           desc, cid asc
  limit {nprobe}
)
select vec_id, label,
       round({_dot_sql('embedding', 'qv')}
             / (sqrt({_dot_sql('embedding', 'embedding')})
                * sqrt({_dot_sql('qv', 'qv')})), 6) as cosine_sim
from assigned, q
where cell in (select cid from qcells) and vec_id != {QUERY_VEC_ID}
order by cosine_sim desc, vec_id asc
limit {IVF_TOP_K}
"""


KNN_IVF_SQL = _knn_ivf_sql()


def _knn_ivf_batch_sql() -> str:
    """Static replay of knn_ivf_batch: same training CTE chain as
    _knn_ivf_sql, then per-query nearest cell + per-query ranked scoring."""
    parts, prev = _trained_assign_parts()
    ctes = ",\n".join(parts)
    csim = (
        f"{_dot_sql('q.qv', 'c.cvec')}"
        f" / (sqrt({_dot_sql('q.qv', 'q.qv')})"
        f" * sqrt({_dot_sql('c.cvec', 'c.cvec')}))"
    )
    sim = (
        f"{_dot_sql('a.embedding', 'qc.qv')}"
        f" / (sqrt({_dot_sql('a.embedding', 'a.embedding')})"
        f" * sqrt({_dot_sql('qc.qv', 'qc.qv')}))"
    )
    return f"""
with {ctes},
q as materialized (
  select vec_id as qid, embedding as qv from embeddings
  where vec_id % {BATCH_Q_MOD} = 0
),
qcell as materialized (
  select qid, qv, cell from (
    select q.qid, q.qv, c.cid as cell,
           row_number() over (
             partition by q.qid order by {csim} desc, c.cid asc
           ) as rn
    from q cross join {prev} c
  ) where rn <= {BATCH_NPROBE}
),
scored as materialized (
  select qc.qid, a.vec_id, a.label,
         round({sim}, 6) as cosine_sim
  from assigned a join qcell qc on a.cell = qc.cell
  where a.vec_id != qc.qid
)
select qid, vec_id, label, cosine_sim, rank from (
  select qid, vec_id, label, cosine_sim,
         row_number() over (
           partition by qid order by cosine_sim desc, vec_id asc
         ) as rank
  from scored
) where rank <= {BATCH_TOP_K}
"""


KNN_IVF_BATCH_SQL = _knn_ivf_batch_sql()

EMB_DEDUP_THRESHOLD = 0.35
# Multi-band LSH for near-dup candidates: EMB_BANDS independent hyperplane
# families; a pair is a candidate if it collides in ANY band (recall), and
# each band's bucket count GROWS with corpus size (bounded occupancy — a
# fixed bucket count keeps pair counts O(n²/buckets), i.e. still quadratic).
# The bucket id is the low-k bits of an EMB_PLANES_MAX-plane sign signature
# (x % 2^k == low-k planes), so the DuckDB oracle can derive k from
# count(*) inside static SQL while Spark derives it from df.count().
# EMB_PLANES_MAX=16 bounds the inline oracle SQL size; at true corpus scale
# raise it (the signature is embarrassingly parallel either way).
EMB_BANDS = 4
EMB_PLANES_MAX = 16
EMB_TARGET_OCCUPANCY = 8


def _num_buckets(n: int) -> int:
    import math

    k = min(
        EMB_PLANES_MAX,
        max(4, math.ceil(math.log2(max(n, 1) / EMB_TARGET_OCCUPANCY))),
    )
    return 1 << k


def _band_planes(band: int) -> list[list[float]]:
    """Like _plane_weights but seeded per band: ±1 from md5('{band}:{p}|{d}')."""
    planes = []
    for p in range(EMB_PLANES_MAX):
        row = []
        for d in range(DIM):
            h = hashlib.md5(f"{band}:{p}|{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded LSH: candidates = pairs
    colliding in >=1 of EMB_BANDS size-scaled bucket keys; then exact cosine
    >= threshold. Candidate ids are deduped BEFORE rehydrating embeddings so
    the union never shuffles vector payloads."""
    emb = table(spark, sf_dir, "embeddings")
    nb = _num_buckets(emb.count())
    bucket_cols = [
        (_bucket_col(F.col("embedding"), _band_planes(band)) % nb).alias(f"b{band}")
        for band in range(EMB_BANDS)
    ]
    from .common import banded_pairs, scoped_cache

    # cached: referenced as both sides of EMB_BANDS self-joins; released
    # when the caller drops the result (scoped_cache)
    keyed = emb.select("vec_id", *bucket_cols).cache()
    cand = banded_pairs(
        keyed, "vec_id", [f"b{b}" for b in range(EMB_BANDS)], []
    ).select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"))
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    cos = F.round(
        _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb"))), 6
    )
    return scoped_cache(
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= EMB_DEDUP_THRESHOLD),
        keyed,
    )


def _band_bucket_sql(emb: str, band: int) -> str:
    """Plane p contributes 2^p only when 2^p < nb (the % nb would zero it
    anyway); the outer case lets DuckDB skip the dot product for planes
    above the dynamic signature width."""
    planes = _band_planes(band)
    parts = []
    for p, w in enumerate(planes):
        wlit = "[" + ", ".join(str(x) for x in w) + "]"
        parts.append(
            f"(case when {1 << p} < nb then"
            f" (case when {_dot_sql(emb, wlit)} > 0 then {1 << p} else 0 end)"
            f" else 0 end)"
        )
    return "(" + " + ".join(parts) + ")"


def _emb_dedup_sql() -> str:
    band_cols = ",\n         ".join(
        f"({_band_bucket_sql('embedding', band)}) % nb as b{band}"
        for band in range(EMB_BANDS)
    )
    from .common import banded_pairs_sql

    cand_body = banded_pairs_sql("keyed", "vec_id", EMB_BANDS, [])
    return f"""
with params as materialized (
  select cast(power(2, least({EMB_PLANES_MAX},
                greatest(4, ceil(log2(count(*) / {EMB_TARGET_OCCUPANCY}.0)))))
              as bigint) as nb
  from embeddings
),
keyed as materialized (
  select vec_id,
         {band_cols}
  from embeddings, params
),
cand as materialized (
  -- union of per-band equi-joins (hash-joinable; mirrors the Spark plan)
  select id_a as vec_a, id_b as vec_b from ({cand_body})
)
select vec_a, vec_b,
       round({_dot_sql('ea.embedding', 'eb.embedding')}
             / (sqrt({_dot_sql('ea.embedding', 'ea.embedding')})
                * sqrt({_dot_sql('eb.embedding', 'eb.embedding')})), 6) as cosine_sim
from cand
join embeddings ea on ea.vec_id = vec_a
join embeddings eb on eb.vec_id = vec_b
where round({_dot_sql('ea.embedding', 'eb.embedding')}
            / (sqrt({_dot_sql('ea.embedding', 'ea.embedding')})
               * sqrt({_dot_sql('eb.embedding', 'eb.embedding')})), 6)
      >= {EMB_DEDUP_THRESHOLD}
"""


EMB_DEDUP_SQL = _emb_dedup_sql()


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): k-means
# clusters as blocking, exact pairwise cosine WITHIN each cluster, keep the
# member FARTHEST from its centroid among semantic duplicates (the paper's
# keep-low-centroid-similarity rule: the most typical copies go, the
# outlier stays). Complementary to dedup_embedding's banded LSH: LSH finds
# near-identical vectors cheaply at full-corpus width; SemDeDup trades an
# O(sum cell²) within-cluster join for exhaustive recall inside each
# semantic neighborhood. The cluster structure is the PERSISTED IVF index —
# built once, reused by knn_ivf/knn_ivf_batch/this (one training cost
# amortized across every probe-side operator, like the reference's one-time
# HNSW build, docker/init.sql:20).
#
# Scale: within-cell self-join cost is sum(|cell|²) — the SemDeDup design
# point is that K grows with the corpus (K ≈ n / target_cell_size, the same
# sizing rule as _num_buckets) so cells stay bounded and the join is an
# AQE-skew-splittable equi-join on cell. K is fixed at IVF_CENTROIDS here
# because the oracle replays training in static SQL.
# --------------------------------------------------------------------------
SEM_DEDUP_THRESHOLD = 0.35


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector semantic-dedup verdict: (vec_id, cell, centroid_sim,
    is_dup). A vector is a duplicate iff a same-cell vector with STRICTLY
    lower centroid-similarity (ties → lower vec_id) lies within
    SEM_DEDUP_THRESHOLD cosine of it — i.e. among mutual near-dups only
    the farthest-from-centroid member keeps is_dup = false."""
    assigned, cents = _ivf_index(spark, sf_dir)
    cents_df = _centroids_df(spark, cents)
    csim = _dot(F.col("embedding"), F.col("cvec")) / (
        _norm(F.col("embedding")) * _norm(F.col("cvec"))
    )
    # broadcast is genuinely bounded here: K centroid rows. The vector's
    # own norm is computed ONCE per row (cached) rather than per pair —
    # the pair search then pays one dot product per candidate instead of
    # three; dot/(na*nb) is the same expression tree per pair, so values
    # (and the oracle) are bit-identical.
    scored = (
        assigned.join(F.broadcast(cents_df), F.col("cell") == F.col("cid"))
        .select(
            "vec_id",
            "cell",
            "embedding",
            csim.alias("csim"),
            _norm(F.col("embedding")).alias("nrm"),
        )
        # referenced as both sides of the within-cell self-join AND the
        # final projection; released via scoped_cache
        .cache()
    )
    a, b = scored.alias("a"), scored.alias("b")
    cos_ab = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    # threshold compares the ROUNDED cosine (same as dedup_embedding) so
    # the boundary is identical in both engines; the keep-priority order
    # compares raw doubles — both sides run the same in-order left-fold
    # (_dot ↔ _dot_sql), the equality the IVF assignment already relies on
    dropped = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") != F.col("b.vec_id"))
        & (
            (F.col("b.csim") < F.col("a.csim"))
            | (
                (F.col("b.csim") == F.col("a.csim"))
                & (F.col("b.vec_id") < F.col("a.vec_id"))
            )
        )
        & (F.round(cos_ab, 6) >= SEM_DEDUP_THRESHOLD),
        "left_semi",
    ).select("vec_id", F.lit(True).alias("d"))
    out = scored.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.round("csim", 6).alias("centroid_sim"),
        F.coalesce("d", F.lit(False)).alias("is_dup"),
    )
    from .common import scoped_cache

    return scoped_cache(out, scored)


def _semantic_dedup_sql() -> str:
    parts, prev = _trained_assign_parts()
    ctes = ",\n".join(parts)
    csim = (
        f"{_dot_sql('a.embedding', 'c.cvec')}"
        f" / (sqrt({_dot_sql('a.embedding', 'a.embedding')})"
        f" * sqrt({_dot_sql('c.cvec', 'c.cvec')}))"
    )
    cos_ab = (
        f"{_dot_sql('x.embedding', 'y.embedding')}"
        f" / (sqrt({_dot_sql('x.embedding', 'x.embedding')})"
        f" * sqrt({_dot_sql('y.embedding', 'y.embedding')}))"
    )
    return f"""
with {ctes},
scored as materialized (
  select a.vec_id, a.cell, a.embedding, {csim} as csim
  from assigned a join {prev} c on a.cell = c.cid
),
dropped as (
  select distinct x.vec_id
  from scored x join scored y
    on x.cell = y.cell and x.vec_id != y.vec_id
   and (y.csim < x.csim or (y.csim = x.csim and y.vec_id < x.vec_id))
   and round({cos_ab}, 6) >= {SEM_DEDUP_THRESHOLD}
)
select s.vec_id, s.cell, round(s.csim, 6) as centroid_sim,
       (d.vec_id is not null) as is_dup
from scored s left join dropped d using (vec_id)
"""


SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()


# --------------------------------------------------------------------------
# SSL-prototypes diversification (Sorscher et al. 2022, arXiv:2206.14486;
# runs as the pruning stage AFTER SemDeDup in D4, Tirumala et al. 2023,
# arXiv:2308.12284): within each k-means cell, the vectors MOST similar to
# their centroid are the prototypical mass the model learns fastest and
# gains least from — drop the top PROTO_DROP_FRAC of each cell by centroid
# cosine, keep the hard/diverse tail. Complementary to semantic_dedup
# (which removes mutual near-copies): this prunes REGIONS, not pairs.
#
# Shape: the cluster structure is the same PERSISTED IVF index (one
# training cost amortized across knn_ivf / semantic_dedup / this). The
# per-cell rank is a window partitioned by cell — the bounded-partition
# class (K grows with the corpus, K ≈ n / target_cell_size, exactly the
# semantic_dedup sizing argument), NOT the unbounded-key class the window
# ban targets — so the whole operator is ONE hash exchange on cell; the
# cell population count rides the same partition (no second scan, no
# join-back needed for a bounded key). Centroid join broadcasts K rows
# (the sanctioned K-centroid class). drop_n = floor(frac·n): a cell too
# small to contain a whole prototypical fraction keeps everything.
# --------------------------------------------------------------------------
PROTO_DROP_FRAC = 0.25


def diversify_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector diversification verdict: (vec_id, cell, centroid_sim,
    keep). keep = false for the floor(PROTO_DROP_FRAC·|cell|) members
    ranked most centroid-similar (ties → lower vec_id drops first)."""
    from pyspark.sql.window import Window

    assigned, cents = _ivf_index(spark, sf_dir)
    cents_df = _centroids_df(spark, cents)
    csim = _dot(F.col("embedding"), F.col("cvec")) / (
        _norm(F.col("embedding")) * _norm(F.col("cvec"))
    )
    scored = assigned.join(
        F.broadcast(cents_df), F.col("cell") == F.col("cid")
    ).select("vec_id", "cell", csim.alias("csim"))
    # rank and population over the SAME cell partition: one exchange, two
    # window functions. Ordering compares the raw double (both engines run
    # the identical in-order left-fold dot product — the equality the IVF
    # assignment already relies on); output rounds to 6 dp as usual.
    w_rank = Window.partitionBy("cell").orderBy(
        F.col("csim").desc(), F.col("vec_id")
    )
    w_cell = Window.partitionBy("cell")
    return scored.select(
        "vec_id",
        "cell",
        F.round("csim", 6).alias("centroid_sim"),
        (
            F.row_number().over(w_rank)
            > F.floor(F.lit(PROTO_DROP_FRAC) * F.count("*").over(w_cell))
        ).alias("keep"),
    )


def _diversify_prototypes_sql() -> str:
    parts, prev = _trained_assign_parts()
    ctes = ",\n".join(parts)
    csim = (
        f"{_dot_sql('a.embedding', 'c.cvec')}"
        f" / (sqrt({_dot_sql('a.embedding', 'a.embedding')})"
        f" * sqrt({_dot_sql('c.cvec', 'c.cvec')}))"
    )
    return f"""
with {ctes},
scored as materialized (
  select a.vec_id, a.cell, {csim} as csim
  from assigned a join {prev} c on a.cell = c.cid
)
select vec_id, cell, round(csim, 6) as centroid_sim,
       (row_number() over (partition by cell order by csim desc, vec_id)
        > floor({PROTO_DROP_FRAC} * (count(*) over (partition by cell))))
         as keep
from scored
"""


DIVERSIFY_PROTOTYPES_SQL = _diversify_prototypes_sql()

QUERIES["knn_ivf"] = knn_ivf
QUERIES["knn_ivf_batch"] = knn_ivf_batch
QUERIES["dedup_embedding"] = embedding_near_dup
ORACLES["knn_ivf"] = KNN_IVF_SQL
ORACLES["knn_ivf_batch"] = KNN_IVF_BATCH_SQL
ORACLES["dedup_embedding"] = EMB_DEDUP_SQL
# Retired from the 50-slot driver contract (batch ANN subsumes nprobe=2)
# or beyond it, but still oracle-checked by tests/test_extended_oracles.py.
EXTRA_QUERIES = {
    "knn_ivf_probe2": knn_ivf_probe2,
    "dedup_semantic": semantic_dedup,
    "diversify_prototypes": diversify_prototypes,
}
EXTRA_ORACLES = {
    "knn_ivf_probe2": _knn_ivf_sql(nprobe=2),
    "dedup_semantic": SEMANTIC_DEDUP_SQL,
    "diversify_prototypes": DIVERSIFY_PROTOTYPES_SQL,
}
