"""Retrieval + relational query operators (SURVEY.md §2.4).

Implements the reference's retrieval semantics over the sandbox tables:
fulltext top-k (T2), vector top-k via similarity.py (T1), reciprocal-rank
fusion (W1/W2, reference src/retrieval/search.py:7-32), over-fetch ×3 (T3),
ordered pagination (T4), per-document aggregates (A1), distinct counts
(A2), point lookups (P9/J6) — plus generic join/agg muscle on the TPC-H
tables (broadcast-join revenue rollup, pricing summary) and a window-dedup
on events.

Scale notes: every top-k is orderBy+limit → TakeOrderedAndProject (no
global sort); small dims (nation/customer-at-sf, query-term arrays) are
broadcast; pagination is a row_number window (Spark has no OFFSET
pushdown — SURVEY.md A1 note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import artifacts
from ..functions.duckdb_sql import tokens_sql
from ..functions.text import chunk_id_col, tokens_col
from .common import table
from .similarity import QUERY_VEC_ID, _dot, _dot_sql, _lit_vec, _norm, _query_vec

FT_TERMS = ["spark", "window", "join"]
TOP_K = 25  # reference DEFAULT_TOP_K, src/config.py:35
OVERFETCH = 3  # reference src/retrieval/search.py:26-30
RRF_K = 60  # reference src/retrieval/search.py:7
PAGE_SIZE = 50
CHUNK_TOKENS = 16  # small budget so sandbox docs (~54 tokens) multi-chunk


# --------------------------------------------------------------------------
# T2 (cover-density variant): deterministic ts_rank_cd-style score
# (reference ranks fulltext with ts_rank_cd — cover density —
# src/storage/postgres.py:185, GIN index docker/init.sql:21). Frozen spec:
#   hits  = positions of query terms in the (tidy, lowercased) token stream
#   nt    = distinct terms hit      (coverage dominates, weight 100)
#   nh    = total hits              (term frequency)
#   prox  = Σ over CONSECUTIVE hit pairs of DIFFERENT terms of
#           round(1/gap, 6)         (the cover-width reciprocal flavor;
#                                    summed as decimal → order-independent)
#   score = round(nt*100 + nh + prox, 6)
# Pure relational: posexplode → window lag → groupBy; one shuffle on doc_id.
# --------------------------------------------------------------------------
def cover_density_scores(docs: DataFrame, terms: list[str]) -> DataFrame:
    tl = sorted({t.lower() for t in terms})
    hits = docs.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"), lower=True)).alias("pos", "tok"),
    ).filter(F.col("tok").isin(tl))
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = hits.select(
        "doc_id",
        "tok",
        "pos",
        F.lag("pos").over(w).alias("prev_pos"),
        F.lag("tok").over(w).alias("prev_tok"),
    )
    bonus = (
        F.when(
            F.col("prev_tok").isNotNull() & (F.col("prev_tok") != F.col("tok")),
            F.round(F.lit(1.0) / (F.col("pos") - F.col("prev_pos")), 6),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
    )
    return (
        marked.withColumn("bonus", bonus)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("tok").alias("nt"),
            F.count("*").alias("nh"),
            F.sum("bonus").alias("prox"),
        )
        .select(
            "doc_id",
            F.round(
                F.col("nt") * 100 + F.col("nh") + F.col("prox").cast("double"), 6
            ).alias("s"),
        )
    )


def _cover_density_sql(terms: list[str], source: str = "documents") -> str:
    """CTE body returning (doc_id, s) — exact mirror of cover_density_scores."""
    tl = sorted({t.lower() for t in terms})
    arr = "[" + ", ".join(f"'{t}'" for t in tl) + "]"
    return f"""
  with hits as (
    select doc_id, i - 1 as pos, w[i] as tok
    from (select doc_id, {tokens_sql('text', lower=True)} as w from {source}),
         unnest(range(1, len(w) + 1)) as t(i)
    where list_contains({arr}, w[i])
  ),
  marked as (
    select doc_id, tok, pos,
           lag(pos) over (partition by doc_id order by pos) as prev_pos,
           lag(tok) over (partition by doc_id order by pos) as prev_tok
    from hits
  )
  select doc_id,
         round(count(distinct tok) * 100 + count(*)
               + sum(case when prev_tok is not null and prev_tok != tok
                          then round(1.0::double / (pos - prev_pos), 6)
                               ::decimal(18,6)
                          else 0::decimal(18,6) end)::double, 6) as s
  from marked group by doc_id
"""


def fulltext_topk_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        cover_density_scores(docs, FT_TERMS)
        .select("doc_id", F.col("s").alias("cd_score"))
        .orderBy(F.desc("cd_score"), F.asc("doc_id"))
        .limit(TOP_K)
    )


FULLTEXT_CD_SQL = f"""
with cd as ({_cover_density_sql(FT_TERMS)})
select doc_id, s as cd_score from cd
order by cd_score desc, doc_id asc
limit {TOP_K}
"""


# --------------------------------------------------------------------------
# T2 (BM25 variant): the canonical at-scale fulltext ranking function
# (Robertson/Spärck Jones; what Lucene/ES ship as default — a strictly
# stronger stand-in for ts_rank than raw term frequency). ZERO-shuffle
# plan: per-term tf and dl are ARRAY expressions over each doc's token
# array (codegen — no explode, no (doc_id, term) groupBy), corpus stats
# (N, avgdl, per-term df) are one single-row aggregate broadcast back via
# crossJoin, and the top-k is TakeOrderedAndProject. The only exchanges
# are the single-partition stats agg and the broadcast — no
# hashpartitioning anywhere (plan-asserted).
# Cross-engine float parity: per-term scores round to 9 dp and sum as
# decimal(18,9) — order-independent — then the total rounds to 6 dp; the
# DuckDB oracle computes identical values from an explode-shaped plan.
# --------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75


def fulltext_topk_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tl = sorted({t.lower() for t in FT_TERMS})
    toks = tokens_col(F.col("text"), lower=True)

    # ONE token-array traversal folds dl + every per-term tf into a struct
    # (round 4): K separate F.filter exprs each inline the tokenizer — K+1
    # tokenizations per row (HOFs are interpreted, no CSE). The struct stays
    # UNEXPANDED until after the cache barrier below: expanding fields in
    # the same projection would let CollapseProject inline the whole fold
    # once per field.
    def step(acc, x):
        fields = [
            (acc[f"tf_{i}"] + F.when(x == F.lit(t), 1).otherwise(0)).alias(
                f"tf_{i}"
            )
            for i, t in enumerate(tl)
        ]
        fields.append((acc["dl"] + 1).alias("dl"))
        return F.struct(*fields)

    acc0 = F.struct(
        *[F.lit(0).alias(f"tf_{i}") for i in range(len(tl))],
        F.lit(0).alias("dl"),
    )
    # cached: per-doc row is (doc_id, K+1 ints) — tiny at any corpus size —
    # and it feeds BOTH the stats aggregate and the scoring scan; without
    # the cache the tokenize+fold subtree runs twice. Released when the
    # caller drops the returned frame (scoped_cache).
    folded = docs.select(
        "doc_id", F.aggregate(toks, acc0, step).alias("a")
    ).cache()
    per_doc = folded.select(
        "doc_id",
        F.col("a.dl").alias("dl"),
        *[F.col(f"a.tf_{i}").alias(f"tf_{i}") for i in range(len(tl))],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(tl))
        ],
    )
    score = None
    for i in range(len(tl)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        tnorm = (F.col(f"tf_{i}") * F.lit(BM25_K1 + 1.0)) / (
            F.col(f"tf_{i}")
            + F.lit(BM25_K1)
            * (
                F.lit(1.0)
                - F.lit(BM25_B)
                + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
            )
        )
        term = F.round(idf * tnorm, 9).cast("decimal(18,9)")
        score = term if score is None else score + term
    n_hits = None
    for i in range(len(tl)):
        h = F.col(f"tf_{i}")
        n_hits = h if n_hits is None else n_hits + h
    from .common import scoped_cache

    return scoped_cache(
        per_doc.crossJoin(F.broadcast(stats))
        .filter(n_hits > 0)
        .select("doc_id", F.round(score.cast("double"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(TOP_K),
        folded,
    )


def _bm25_sql(terms: list[str]) -> str:
    tl = sorted({t.lower() for t in terms})
    arr = "[" + ", ".join(f"'{t}'" for t in tl) + "]"
    k1 = f"{BM25_K1}::double"
    b = f"{BM25_B}::double"
    return f"""
with toks as (
  select doc_id, unnest({tokens_sql('text', lower=True)}) as tok from documents
),
lens as (
  select doc_id, len({tokens_sql('text', lower=True)}) as dl from documents
),
stats as (
  select count(*) as n_docs, avg(dl) as avgdl from lens
),
tf as (
  select doc_id, tok, count(*) as tf from toks
  where list_contains({arr}, tok)
  group by doc_id, tok
),
dfreq as (
  select tok, count(*) as df from tf group by tok
)
select tf.doc_id,
       round(sum(round(
         ln(1.0::double + (n_docs - df + 0.5::double) / (df + 0.5::double))
         * ((tf * {BM25_K1 + 1.0}::double)
            / (tf + {k1} * (1.0::double - {b} + {b} * dl / avgdl)))
       , 9)::decimal(18,9))::double, 6) as bm25
from tf
join dfreq using (tok)
join lens on lens.doc_id = tf.doc_id
cross join stats
group by tf.doc_id
order by bm25 desc, tf.doc_id asc
limit {TOP_K}
"""


FULLTEXT_BM25_SQL = _bm25_sql(FT_TERMS)


# --------------------------------------------------------------------------
# W1+W2+T3: hybrid search with reciprocal-rank fusion
# (reference src/retrieval/search.py:7-32: rank = 1-based position per
# engine, rrf += 1/(60+rank), over-fetch 3×top_k, final top_k)
# --------------------------------------------------------------------------
def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-terms fusion entry for the driver contract — a thin wrapper
    over hybrid_search (single fusion implementation, no drift)."""
    return hybrid_search(
        spark, sf_dir, FT_TERMS, allow_fallback=False, score_col="rrf_score"
    )


HYBRID_RRF_SQL = f"""
with q as (select embedding as qv from embeddings where vec_id = {QUERY_VEC_ID}),
ft as (
  select doc_id,
         row_number() over (order by s desc, doc_id asc) as rank
  from (
    with scores as ({_cover_density_sql(FT_TERMS)})
    select doc_id, s from scores
    order by s desc, doc_id asc limit {TOP_K * OVERFETCH}
  )
),
vec as (
  select doc_id,
         row_number() over (order by s desc, doc_id asc) as rank
  from (
    select vec_id as doc_id,
           round({_dot_sql('embedding', 'qv')}
                 / (sqrt({_dot_sql('embedding', 'embedding')})
                    * sqrt({_dot_sql('qv', 'qv')})), 6) as s
    from embeddings, q
    where vec_id != {QUERY_VEC_ID}
    order by s desc, doc_id asc limit {TOP_K * OVERFETCH}
  )
)
select doc_id, round(sum(1.0::double / ({RRF_K} + rank)), 6) as rrf_score
from (select * from ft union all select * from vec)
group by doc_id
order by rrf_score desc, doc_id asc
limit {TOP_K}
"""


# --------------------------------------------------------------------------
# A1: per-group document aggregate (reference list_documents,
# src/storage/postgres.py:276-286)
# --------------------------------------------------------------------------
def doc_meta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


DOC_META_SQL = """
select lang, source, count(*) as n_docs, max(n_chars) as max_chars,
       round(avg(n_chars), 6) as avg_chars
from documents group by lang, source
"""


# A2: distinct counts (reference src/storage/postgres.py:227-250)
def doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.agg(
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.count("*").alias("n_docs"),
    )


DOC_COUNTS_SQL = """
select count(distinct lang) as n_langs, count(distinct source) as n_sources,
       count(*) as n_docs
from documents
"""


# T4: ordered pagination (reference LIMIT/OFFSET,
# src/storage/postgres.py:833-838). Scale shape: orderBy().limit(offset+page)
# compiles to TakeOrderedAndProject — a DISTRIBUTED partial top-k, never a
# single-partition global sort — and the row_number window then runs over
# only those <= offset+page rows. The former global partition-less
# row_number moved EVERY row through one task: a 100-TB scale-killer.
# Deep offsets (offset >> page) should use keyset/cursor pagination instead:
# WHERE (n_chars, doc_id) < (last_seen_n_chars, last_seen_doc_id) ORDER BY
# ... LIMIT page — same TakeOrdered plan with the offset cost removed.
def paginate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    top = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(2 * PAGE_SIZE)
    )
    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        top.select("doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") > PAGE_SIZE)
        .select("doc_id", "n_chars", "rn")
    )


PAGINATE_SQL = f"""
select doc_id, n_chars, rn from (
  select doc_id, n_chars,
         row_number() over (order by n_chars desc, doc_id asc) as rn
  from documents
) where rn > {PAGE_SIZE} and rn <= {2 * PAGE_SIZE}
"""


def paginate_docs_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination — the deep-offset story paginate_docs'
    docstring points to: the client passes back the LAST ROW of the
    previous page and the next page is a pure filter + TakeOrdered, with
    NO offset cost at any depth (offset-N pre-limits still materialize
    offset+page rows; a cursor page materializes page rows). The cursor
    fetch here is itself a TakeOrdered of PAGE_SIZE rows — exactly the
    page-1 request whose last row a real client already holds; it runs
    EAGERLY at DataFrame-construction time (deliberate: the cursor row is
    a client-held scalar, not a plan node — a registry caller pays one
    tiny TakeOrdered job up front)."""
    docs = table(spark, sf_dir, "documents")
    page1 = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(PAGE_SIZE)
        .collect()
    )
    if not page1:
        # empty table → empty page 2 (match the oracle's empty set, not
        # an IndexError on the missing cursor row)
        return docs.select("doc_id", "n_chars").filter(F.lit(False))
    last = page1[-1]
    after_cursor = (F.col("n_chars") < last["n_chars"]) | (
        (F.col("n_chars") == last["n_chars"]) & (F.col("doc_id") > last["doc_id"])
    )
    return (
        docs.select("doc_id", "n_chars")
        .filter(after_cursor)
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(PAGE_SIZE)
    )


PAGINATE_KEYSET_SQL = f"""
with cursor as (
  select n_chars, doc_id from documents
  order by n_chars desc, doc_id asc
  limit 1 offset {PAGE_SIZE - 1}
)
select d.doc_id, d.n_chars
from documents d, cursor c
where d.n_chars < c.n_chars
   or (d.n_chars = c.n_chars and d.doc_id > c.doc_id)
order by d.n_chars desc, d.doc_id asc
limit {PAGE_SIZE}
"""


# P5/P9/J6: predicate point lookups (ILIKE + id-range semi-join analogs,
# reference src/storage/postgres.py:322-343,823-832)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.filter(
        (F.col("doc_id") % 97 == 0) & F.lower(F.col("text")).contains("scan")
    ).select("doc_id", "lang", "source", "n_chars")


POINT_LOOKUP_SQL = """
select doc_id, lang, source, n_chars
from documents
where doc_id % 97 = 0 and contains(lower(text), 'scan')
"""


# --------------------------------------------------------------------------
# window dedup on events: latest event per user (W1-class)
# --------------------------------------------------------------------------
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


LATEST_EVENT_SQL = """
select user_id, event_id, event_type, round(value, 6) as value from (
  select *, row_number() over (partition by user_id
                               order by ts desc, event_id desc) as rn
  from events
) where rn = 1
"""


# --------------------------------------------------------------------------
# generic agg/join muscle on TPC-H tables (bench headliners)
# --------------------------------------------------------------------------
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — the map-side-combine benchmark."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # money sums as decimal: double summation order differs between
            # distributed partial aggs and the oracle; decimal is exact
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (1 - F.col("l_discount")).cast("decimal(8,4)")
                ),
                4,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


PRICING_SQL = """
select l_returnflag, l_linestatus,
       round(sum(l_quantity::decimal(18,4)), 4)::double as sum_qty,
       round(sum(l_extendedprice::decimal(18,4)), 4)::double as sum_base_price,
       round(sum(l_extendedprice::decimal(18,4)
                 * (1 - l_discount)::decimal(8,4)), 4)::double as sum_disc_price,
       round(avg(l_quantity), 6) as avg_qty,
       count(*) as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-02'
group by l_returnflag, l_linestatus
"""


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation rollup — customer/nation are broadcast
    (tiny dims; at 100 TB nation still broadcasts, customer bucketizes)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("revenue"),
        )
    )


REVENUE_SQL = """
select n_name, count(*) as n_orders,
       round(sum(o_totalprice::decimal(18,4)), 4)::double as revenue
from orders
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
group by n_name
"""


# --------------------------------------------------------------------------
# E11-E13 in pure SQL: fixed-budget word chunker with the exact md5 id
# recipe (oracle-checkable flat-text variant of the pipeline's chunks)
# --------------------------------------------------------------------------
def chunk_documents_sql_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    )
    grouped = (
        toks.withColumn("chunk_index", F.floor(F.col("pos") / CHUNK_TOKENS))
        .groupBy("doc_id", "chunk_index")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text"),
            F.count("*").cast("int").alias("n_tokens"),
        )
    )
    return grouped.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "text",
        "n_tokens",
        chunk_id_col(F.col("doc_id"), F.col("chunk_index"), F.col("text")).alias("id"),
    )


CHUNK_SQL = f"""
with toks as (
  select doc_id, i - 1 as pos, w[i] as tok
  from (select doc_id, {tokens_sql('text')} as w from documents),
       unnest(range(1, len(w) + 1)) as t(i)
)
select doc_id,
       cast(floor(pos / {CHUNK_TOKENS}) as bigint) as chunk_index,
       string_agg(tok, ' ' order by pos) as text,
       cast(count(*) as int) as n_tokens,
       md5(doc_id::varchar || '_' ||
           cast(floor(pos / {CHUNK_TOKENS}) as bigint)::varchar || '_' ||
           string_agg(tok, ' ' order by pos)) as id
from toks
group by doc_id, floor(pos / {CHUNK_TOKENS})
"""

# --------------------------------------------------------------------------
# J6: fused top-k → row rehydration. The reference rehydrates fused chunk
# ids back to full rows (src/retrieval/search.py:35 →
# src/storage/postgres.py:201-224 WHERE id = ANY(%s)); here the fused
# (doc_id, score) set — tiny by construction — broadcasts into an equi-join
# against the documents table (semi-join-with-payload; at 100 TB the
# broadcast side is top_k rows, the big side prunes on doc_id).
# --------------------------------------------------------------------------
def hybrid_rrf_rehydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = hybrid_rrf(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    return docs.join(F.broadcast(fused), "doc_id").select(
        "doc_id", "lang", "source", "n_chars", "rrf_score"
    )


HYBRID_REHYDRATE_SQL = f"""
with fused as ({HYBRID_RRF_SQL}),
rehydrated as (
  select d.doc_id, d.lang, d.source, d.n_chars, fused.rrf_score
  from fused join documents d using (doc_id)
)
select * from rehydrated
"""

# --------------------------------------------------------------------------
# W2 at CHUNK granularity (reference parity): the reference fuses over
# chunk ids and rehydrates chunk ROWS (src/retrieval/search.py:30-35 →
# src/storage/postgres.py:201-224 WHERE id = ANY(%s)), not documents.
# Fulltext arm: cover-density over each chunk's text. Vector arm (round-4
# verdict #10): CHUNK-level embeddings — the embed stage's deterministic
# stand-in encodes each chunk's text AND the query text, and chunks rank by
# their own vector's cosine to the query vector, matching the reference's
# chunk-granularity vectors (docker/init.sql:10,
# src/storage/postgres.py:127-164). Fusion: RRF k=60 over chunk ids,
# over-fetch ×3, final top-k rehydrated against the chunks table via
# broadcast semi-join-with-payload.
# --------------------------------------------------------------------------
CHUNK_QUERY_TEXT = " ".join(FT_TERMS)  # one query feeds both arms


def _chunk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk table as a persisted artifact: in production chunks are
    written ONCE at ingest and every retrieval query reads the stored table
    (reference chunks table, docker/init.sql:5-12) — re-running the chunker
    per query is not the serving shape. The `chunk_documents` driver query
    still exercises the live chunker; retrieval consumers read this memo."""
    return artifacts.parquet(
        spark, "sqlchunks", sf_dir, lambda: chunk_documents_sql_variant(spark, sf_dir)
    )


def _chunk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk embeddings as a PERSISTED artifact — the reference writes chunk
    vectors at ingest (docker/init.sql:10) and queries only probe them; the
    embed UDF must not re-encode the corpus per query. An artifact-store
    memo, so editing the embed or chunker recipe rebuilds instead of
    serving stale vectors."""
    from .embed import embed_udf

    def pipe() -> DataFrame:
        chunks = _chunk_table(spark, sf_dir)
        return chunks.select("id", embed_udf()(F.col("text")).alias("embedding"))

    return artifacts.parquet(spark, "chunk_emb", sf_dir, pipe)


def hybrid_rrf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .common import scoped_cache
    from .embed import _fake_embed

    # cached: referenced by both arms + the rehydration join; released when
    # the caller drops the result
    chunks = _chunk_table(spark, sf_dir).cache()
    fetch = TOP_K * OVERFETCH
    ft = (
        cover_density_scores(
            chunks.select(F.col("id").alias("doc_id"), "text"), FT_TERMS
        )
        .select(F.col("doc_id").alias("id"), "s")
        .orderBy(F.desc("s"), F.asc("id"))
        .limit(fetch)
    )
    qcol = _lit_vec(_fake_embed(CHUNK_QUERY_TEXT))
    cemb = _chunk_embeddings(spark, sf_dir)
    sim = F.round(
        _dot(F.col("embedding"), qcol) / (_norm(F.col("embedding")) * _norm(qcol)), 6
    )
    vec = (
        cemb.select("id", sim.alias("s"))
        .orderBy(F.desc("s"), F.asc("id"))
        .limit(fetch)
    )
    # rank windows are global but each input is pre-limited to `fetch` rows
    # (TakeOrdered upstream) — do NOT widen the over-fetch without
    # partitioning this window
    rank_w = Window.orderBy(F.desc("s"), F.asc("id"))
    fused = (
        ft.withColumn("rank", F.row_number().over(rank_w))
        .select("id", "rank")
        .unionAll(vec.withColumn("rank", F.row_number().over(rank_w)).select("id", "rank"))
        .groupBy("id")
        .agg(F.round(F.sum(1.0 / (RRF_K + F.col("rank"))), 6).alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("id"))
        .limit(TOP_K)
    )
    return scoped_cache(
        chunks.join(F.broadcast(fused), "id").select(
            "id", "doc_id", "chunk_index", "text", "n_tokens", "rrf_score"
        ),
        chunks,
    )


def _hybrid_rrf_chunks_sql() -> str:
    from .embed import EMBED_DIM, fake_embed_ctes

    dot_eq = (
        f"list_sum(list_transform(range(1, {EMBED_DIM} + 1), "
        "i -> emb[i]::double * qv[i]))"
    )
    n_emb = "sqrt(list_sum(list_transform(emb, x -> x::double * x::double)))"
    n_q = "sqrt(list_sum(list_transform(qv, x -> x * x)))"
    return f"""
with chunks as materialized ({CHUNK_SQL}),
cdocs as (select id as doc_id, text from chunks),
ft as (
  select id,
         row_number() over (order by s desc, id asc) as rank
  from (
    with scores as ({_cover_density_sql(FT_TERMS, source='cdocs')})
    select doc_id as id, s from scores
    order by s desc, id asc limit {TOP_K * OVERFETCH}
  )
),
{fake_embed_ctes('chunks', 'id', 'cemb').lstrip()},
{fake_embed_ctes(
    f"(select '{CHUNK_QUERY_TEXT}' as text, 1 as qid)", "qid", "qe", float32=False
).lstrip()},
vec as (
  select id,
         row_number() over (order by s desc, id asc) as rank
  from (
    select c.id,
           round({dot_eq} / ({n_emb} * {n_q}), 6) as s
    from cemb c, (select emb as qv from qe)
    order by s desc, id asc limit {TOP_K * OVERFETCH}
  )
),
fused as (
  select id, round(sum(1.0::double / ({RRF_K} + rank)), 6) as rrf_score
  from (select * from ft union all select * from vec)
  group by id
  order by rrf_score desc, id asc
  limit {TOP_K}
)
select c.id, c.doc_id, c.chunk_index, c.text, c.n_tokens, fused.rrf_score
from chunks c join fused using (id)
"""


HYBRID_RRF_CHUNKS_SQL = _hybrid_rrf_chunks_sql()

QUERIES = {
    "fulltext_topk_cd": fulltext_topk_cd,
    "fulltext_topk_bm25": fulltext_topk_bm25,
    "hybrid_rrf_rehydrated": hybrid_rrf_rehydrated,
    "hybrid_rrf_chunks": hybrid_rrf_chunks,
    "doc_meta_agg": doc_meta_agg,
    "doc_counts": doc_counts,
    "paginate_docs": paginate_docs,
    "point_lookup": point_lookup,
    "latest_event_per_user": latest_event_per_user,
    "pricing_summary": pricing_summary,
    "revenue_by_nation": revenue_by_nation,
    "chunk_documents": chunk_documents_sql_variant,
}
ORACLES = {
    "fulltext_topk_cd": FULLTEXT_CD_SQL,
    "fulltext_topk_bm25": FULLTEXT_BM25_SQL,
    "hybrid_rrf_rehydrated": HYBRID_REHYDRATE_SQL,
    "hybrid_rrf_chunks": HYBRID_RRF_CHUNKS_SQL,
    "doc_meta_agg": DOC_META_SQL,
    "doc_counts": DOC_COUNTS_SQL,
    "paginate_docs": PAGINATE_SQL,
    "point_lookup": POINT_LOOKUP_SQL,
    "latest_event_per_user": LATEST_EVENT_SQL,
    "pricing_summary": PRICING_SQL,
    "revenue_by_nation": REVENUE_SQL,
    "chunk_documents": CHUNK_SQL,
}
# Retired from the 50-slot driver contract (hybrid_rrf_rehydrated contains
# hybrid_rrf's fusion; Q18+revenue keep the TPC-H join/agg shapes) — still
# oracle-checked by tests/test_extended_oracles.py.
EXTRA_QUERIES = {
    "hybrid_rrf": hybrid_rrf,
    "paginate_docs_keyset": paginate_docs_keyset,
}
EXTRA_ORACLES = {
    "hybrid_rrf": HYBRID_RRF_SQL,
    "paginate_docs_keyset": PAGINATE_KEYSET_SQL,
}


# --------------------------------------------------------------------------
# event-time tumbling window rollup (the batch shape of a streaming
# watermark+window agg; reference has no streaming, SURVEY §2.6)
# --------------------------------------------------------------------------
def events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_value"),
    )


EVENTS_DAILY_SQL = """
select date_trunc('day', ts) as day, event_type,
       count(*) as n_events,
       count(distinct user_id) as n_users,
       round(sum(value::decimal(18,6)), 4)::double as sum_value
from events
group by 1, 2
"""

QUERIES["events_daily"] = events_daily
ORACLES["events_daily"] = EVENTS_DAILY_SQL


# --------------------------------------------------------------------------
# TPC-H Q3-shaped shipping priority: selective dim filter → fact join →
# agg → top-k. The plan to want at 100 TB: customer filter broadcast into
# orders, date filters pushed to both scans, partial agg before the
# exchange, TakeOrderedAndProject for the top 10 (no global sort).
# --------------------------------------------------------------------------
Q3_SEGMENT = "BUILDING"
Q3_DATE = "1995-03-15"


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < Q3_DATE)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > Q3_DATE)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (1 - F.col("l_discount")).cast("decimal(8,4)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = f"""
select l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice::decimal(18,4)
                 * (1 - l_discount)::decimal(8,4)), 4)::double as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = '{Q3_SEGMENT}'
  and o_orderdate < timestamp '{Q3_DATE}'
  and l_shipdate > timestamp '{Q3_DATE}'
group by l_orderkey, o_orderdate, o_orderpriority
order by revenue desc, l_orderkey asc
limit 10
"""

EXTRA_QUERIES["shipping_priority"] = shipping_priority
EXTRA_ORACLES["shipping_priority"] = SHIPPING_PRIORITY_SQL


# --------------------------------------------------------------------------
# TPC-H Q18-shaped large-volume orders: aggregate-filter (HAVING) on the
# fact table → semi-join-with-payload back to orders/customer → top-k.
# The 100-TB plan: the HAVING-qualified key set is tiny (threshold picks
# the tail), so it BROADCASTS into the orders join; lineitem is scanned
# once with a map-side-combined partial agg; top-k is TakeOrdered.
# --------------------------------------------------------------------------
Q18_QTY_THRESHOLD = 250


def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > Q18_QTY_THRESHOLD)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round(F.col("o_totalprice").cast("decimal(18,4)"), 4)
            .cast("double")
            .alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


LARGE_ORDERS_SQL = f"""
with big as (
  select l_orderkey,
         round(sum(l_quantity::decimal(18,4)), 4)::double as total_qty
  from lineitem
  group by l_orderkey
  having round(sum(l_quantity::decimal(18,4)), 4)::double > {Q18_QTY_THRESHOLD}
)
select c_name, c_custkey, o_orderkey, o_orderdate,
       round(o_totalprice::decimal(18,4), 4)::double as o_totalprice,
       total_qty
from orders
join big on o_orderkey = l_orderkey
join customer on o_custkey = c_custkey
order by o_totalprice desc, o_orderdate asc, o_orderkey asc
limit 100
"""

QUERIES["large_orders"] = large_orders
ORACLES["large_orders"] = LARGE_ORDERS_SQL


# --------------------------------------------------------------------------
# U2: hybrid with vector-only fallback (reference src/retrieval/search.py:
# 26-46 — if fulltext returns 0 rows, skip fusion, return pure vector top-k)
# --------------------------------------------------------------------------
def hybrid_search(
    spark: SparkSession,
    sf_dir: str,
    terms: list[str],
    top_k: int = TOP_K,
    allow_fallback: bool = True,
    score_col: str = "score",
) -> DataFrame:
    """General entry: RRF fusion when fulltext hits exist, else vector-only
    (``allow_fallback=False`` skips the branch — and its count job — for
    callers that always fuse, e.g. the driver-contract hybrid_rrf).
    The branch is a plan-build-time decision (one cheap count of the tiny
    over-fetched fulltext side), exactly like the reference's Python `if`."""
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    qcol = _lit_vec(q)
    fetch = top_k * OVERFETCH
    sim = F.round(
        _dot(F.col("embedding"), qcol) / (_norm(F.col("embedding")) * _norm(qcol)), 6
    )
    # fulltext side ranks by the cover-density score (ts_rank_cd analog) —
    # term proximity/coverage reorders multi-term queries like the reference
    ft = (
        cover_density_scores(docs, terms)
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(fetch)
    )
    vec = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(F.col("vec_id").alias("doc_id"), sim.alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(fetch)
    )
    if allow_fallback and ft.limit(1).count() == 0:  # U2 fallback
        return (
            vec.orderBy(F.desc("s"), F.asc("doc_id"))
            .limit(top_k)
            .select("doc_id", F.col("s").alias(score_col))
        )
    # rank windows are GLOBAL (no partitionBy) — safe ONLY because each
    # input is pre-limited to `fetch` rows by TakeOrdered upstream; do NOT
    # raise the over-fetch to something unbounded without partitioning
    # this window (a partition-less window is a single-partition sort)
    rank_w = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    fused = (
        ft.withColumn("rank", F.row_number().over(rank_w))
        .select("doc_id", "rank")
        .unionAll(
            vec.withColumn("rank", F.row_number().over(rank_w)).select("doc_id", "rank")
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum(1.0 / (RRF_K + F.col("rank"))), 6).alias(score_col))
        .orderBy(F.desc(score_col), F.asc("doc_id"))
        .limit(top_k)
    )
    return fused
