"""Training-set selection: the composed pipeline this engine exists for.

One declarative plan chaining the training-data operators: quality gates
(token window + stopword floor) ∧ language filter (predicted en) ∧ near-dup
removal (drop every doc that is the higher id in a strong MinHash-LSH
candidate pair — keep-first-canonical, the standard crawl-dedup rule).
At 100 TB each stage is the already-benchmarked operator; composition adds
anti-joins whose build sides (drop-set, contaminated-set, eval grams) are
corpus-proportional — so no corpus-proportional side in this module ever
carries F.broadcast(): AQE broadcasts what it measures small at runtime
and shuffles the rest (a hard-coded hint on a linearly-growing side is a
driver OOM at scale). The ONE exception, pinned by test: the bloom bitmap
in decontaminate_bloom, whose row count is bounded by the BLOOM_WORDS
constant — a hint on a structurally-constant side is the K-centroid class,
not the banned class, and there the hint is load-bearing (see the comment
at the probe joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import duckdb_sql as dsql
from ..functions.text import detect_language_col, stopword_ratio_col, token_count_col
from .common import table
from .dedup import MINHASH_LSH_SQL, minhash_lsh_pairs

MIN_TOKENS = 20
MAX_TOKENS_DOC = 200
MIN_STOPWORD_RATIO = 0.02
STRONG_BANDS = 2  # pair strength for the drop rule


def training_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        F.round(stopword_ratio_col(F.col("text")), 6).alias("stopword_ratio"),
        detect_language_col(F.col("text")).alias("pred_lang"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("n_tokens") <= MAX_TOKENS_DOC)
        & (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
        & (F.col("pred_lang") == "en")
    )
    dups = (
        minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("n_shared_bands") >= STRONG_BANDS)
        .select(F.col("doc_b").alias("doc_id"))
    )
    return kept.join(dups, "doc_id", "left_anti")


TRAINING_SUBSET_SQL = f"""
with pairs as (
  {MINHASH_LSH_SQL.strip()}
),
dups as (
  select distinct doc_b as doc_id from pairs where n_shared_bands >= {STRONG_BANDS}
),
scored as (
  select doc_id,
         {dsql.token_count_sql('text')} as n_tokens,
         round({dsql.stopword_ratio_sql('text')}, 6) as stopword_ratio,
         {dsql.detect_language_sql('text')} as pred_lang
  from documents
)
select s.doc_id, s.n_tokens, s.stopword_ratio, s.pred_lang
from scored s
where s.n_tokens between {MIN_TOKENS} and {MAX_TOKENS_DOC}
  and s.stopword_ratio >= {MIN_STOPWORD_RATIO}
  and s.pred_lang = 'en'
  and s.doc_id not in (select doc_id from dups)
"""

# --------------------------------------------------------------------------
# Deterministic stratified sampling — the standard training-mix op at corpus
# scale: take SAMPLE_K pseudo-random docs per (lang, source) stratum, with
# md5(seed|doc_id) as the portable random order (no RNG state, identical on
# every run/engine). One shuffle on the stratum key; the rate-based variant
# (filter on the hash alone) would be shuffle-free — this quota form is the
# harder, more useful one (balanced mixes regardless of stratum skew).
# --------------------------------------------------------------------------
SAMPLE_K = 20
SAMPLE_SEED = "mix1"


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    h = F.md5(F.concat_ws("|", F.lit(SAMPLE_SEED), F.col("doc_id")))
    w = Window.partitionBy("lang", "source").orderBy(h, F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", "source", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_K)
        .select("doc_id", "lang", "source", "rk")
    )


STRATIFIED_SAMPLE_SQL = f"""
select doc_id, lang, source, rk from (
  select doc_id, lang, source,
         row_number() over (
           partition by lang, source
           order by md5('{SAMPLE_SEED}' || '|' || doc_id::varchar), doc_id
         ) as rk
  from documents
) where rk <= {SAMPLE_K}
"""

# --------------------------------------------------------------------------
# Benchmark decontamination (GPT-3 appendix C / PaLM style): flag every
# training document sharing at least one word 13-gram with the held-out
# eval set. The eval set here is a deterministic slice of the corpus
# (doc_id % DECON_EVAL_MOD == 0 — in production, the benchmark table).
# The eval-gram side carries NO forced broadcast hint: here it is a fixed
# fraction of the corpus, so it grows linearly with corpus size and a
# hard-coded F.broadcast() would OOM the driver at 100 TB where a plain
# shuffle join is fine. AQE decides at runtime — when the eval set is a
# real fixed benchmark (tiny), it broadcasts; when it is
# corpus-proportional, it shuffles. Output: contaminated docs with their
# shared-gram counts (the audit artifact a removal step consumes).
# --------------------------------------------------------------------------
DECON_NGRAM = 13
DECON_EVAL_MOD = 50


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingle_rows_from stages the token array BEFORE the gram lambda —
    # inlining shingles_col(text) re-evaluates the regex tokenizer per
    # slice element (measured 14× slower on the 13-gram path)
    from .dedup import shingle_rows_from

    docs = table(spark, sf_dir, "documents")
    # the join/distinct key is the 16-byte md5 of the 13-gram, never the
    # raw ~90-char string: computed map-side, it cuts the distinct and
    # semi-join shuffle payload ~6× at identical match semantics (2^-128
    # false-collision odds; countDistinct over digests == over grams).
    # The oracle joins raw strings — outputs are ids+counts, identical.
    sh = shingle_rows_from(docs, "doc_id", n=DECON_NGRAM).select(
        "doc_id", F.unhex(F.md5("shingle")).alias("g")
    )
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    eval_grams = sh.filter(is_eval).select("g").distinct()
    train = sh.filter(~is_eval)
    # no F.broadcast() on eval_grams: unbounded side (see module comment);
    # AQE converts to broadcast at runtime when it measures small
    return (
        train.join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_grams"))
    )


DECONTAMINATE_SQL = f"""
with sh as (
  select doc_id, unnest({dsql.shingles_sql('text', n=DECON_NGRAM)}) as g
  from documents
),
ev as (select distinct g from sh where doc_id % {DECON_EVAL_MOD} = 0)
select doc_id, count(distinct g) as n_shared_grams
from sh join ev using (g)
where doc_id % {DECON_EVAL_MOD} != 0
group by doc_id
"""


def decontaminate_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination FRACTION — the removal-policy input that
    `decontaminate` (the boolean audit list) feeds: for every training doc,
    what share of its distinct {DECON_NGRAM}-grams also appears in the
    held-out eval set. A pipeline thresholds this (drop if frac > x) rather
    than dropping on any single shared gram, so the full distribution must
    be computed, zero-hit docs included.

    Same scale shape as decontaminate — ONE shingle pass feeds both the
    denominator (per-doc distinct-gram count: grams from shingle_rows_from
    are already per-doc distinct, so it is a map-combined count) and the
    eval join (16-byte digests, AQE-decided strategy; no forced broadcast
    on the corpus-proportional eval side). Reference analog: the ingest
    skip decides per DOCUMENT from aggregate evidence
    (src/storage/postgres.py:253-262), not per matching row."""
    from .dedup import shingle_rows_from

    docs = table(spark, sf_dir, "documents")
    sh = shingle_rows_from(docs, "doc_id", n=DECON_NGRAM).select(
        "doc_id", F.unhex(F.md5("shingle")).alias("g")
    )
    # referenced twice (denominator + eval join) — cache the digest rows,
    # released when the caller drops the result
    sh = sh.cache()
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0
    eval_grams = sh.filter(is_eval).select("g").distinct()
    train = sh.filter(~is_eval)
    n_grams = train.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    n_hit = (
        train.join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    # left join from the training-doc universe: docs shorter than the gram
    # width (0 grams) and zero-hit docs both belong in the distribution
    out = (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(n_grams, "doc_id", "left")
        .join(n_hit, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0)).otherwise(
                    F.coalesce("n_hit", F.lit(0)) / F.col("n_grams")
                ),
                6,
            ).alias("contamination_frac"),
        )
    )
    from .common import scoped_cache

    return scoped_cache(out, sh)


DECONTAMINATE_FRAC_SQL = f"""
with sh as (
  select doc_id, unnest({dsql.shingles_sql('text', n=DECON_NGRAM)}) as g
  from documents
),
ev as (select distinct g from sh where doc_id % {DECON_EVAL_MOD} = 0),
train as (select doc_id, g from sh where doc_id % {DECON_EVAL_MOD} != 0),
den as (select doc_id, count(*) as n_grams from train group by doc_id),
hit as (
  select doc_id, count(*) as n_hit from train join ev using (g)
  group by doc_id
)
select d.doc_id,
       coalesce(den.n_grams, 0) as n_grams,
       coalesce(hit.n_hit, 0) as n_hit,
       round(case when coalesce(den.n_grams, 0) = 0 then 0.0::double
             else coalesce(hit.n_hit, 0) / den.n_grams::double end,
             6) as contamination_frac
from (select doc_id from documents where doc_id % {DECON_EVAL_MOD} != 0) d
left join den using (doc_id)
left join hit using (doc_id)
"""

# --------------------------------------------------------------------------
# Bloom-filter decontamination — the very-large-eval-set scale path for the
# gram-join family above. `decontaminate`/`decontaminate_frac` shuffle the
# TRAINING grams to meet the eval grams on the digest key (AQE may broadcast
# the eval side, but only when it happens to be small). A Bloom filter makes
# the probe side shuffle-free BY CONSTRUCTION: the eval set is compiled once
# into a fixed-size bitmap (BLOOM_BITS is a constant — 2^20 bits ≈ 128 KiB —
# independent of corpus OR eval size), and every training gram tests
# membership via k=4 map-side lookups. False positives are possible (that is
# the Bloom trade — rate (1-e^{-kn/m})^k, tune BLOOM_BITS to the real eval
# size); false negatives are not, so a doc passed by the bloom audit needs
# no exact recheck and only the flagged slice would be re-verified with the
# exact join. Reference analog: the skip-if-ingested probe consults a
# compact presence structure instead of rejoining the corpus
# (src/storage/postgres.py:253-262).
#
# Determinism/portability: positions come from 8-hex-char slices of the
# gram's md5 (32 bits each, one md5 per gram on both engines); the bitmap
# packs 32 bits per BIGINT word (bit index ≤ 31 — the sign bit is never
# touched, so Spark and DuckDB shift/AND agree exactly). The build side
# needs NO distinct: bit_or is idempotent, so duplicate grams cost nothing —
# the whole build is one ≤BLOOM_WORDS-key aggregate.
# --------------------------------------------------------------------------
BLOOM_BITS = 1 << 20
BLOOM_WORDS = BLOOM_BITS >> 5  # 32 bits per word
BLOOM_K = 4


def _bloom_pos(h, i: int):
    # i-th probe: hex chars [1+8i, 8+8i) of the md5 → 32-bit int → mod m
    return (
        F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("bigint") % BLOOM_BITS
    )


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import shingle_rows_from

    docs = table(spark, sf_dir, "documents")
    sh = shingle_rows_from(docs, "doc_id", n=DECON_NGRAM).select(
        "doc_id", F.md5("shingle").alias("h")
    )
    is_eval = F.col("doc_id") % DECON_EVAL_MOD == 0

    # build: explode the k probe positions, OR the bit masks per word.
    # ONE aggregate over a ≤BLOOM_WORDS key space — no distinct, no join.
    probes = sh.filter(is_eval).select(
        F.explode(F.array(*[_bloom_pos(F.col("h"), i) for i in range(BLOOM_K)]))
        .alias("p")
    )
    bitmap = (
        probes.select(
            F.shiftright(F.col("p"), 5).cast("int").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(p & 31 as int))").alias("m"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )

    # probe: k chained LEFT joins against the fixed-size bitmap, each with
    # an explicit F.broadcast hint — the ONE sanctioned hint in this
    # module, because the bitmap is structurally bounded (≤ BLOOM_WORDS
    # rows by construction, independent of corpus AND eval size — the same
    # class as similarity.py's K-centroid broadcasts; the module ban
    # targets corpus-proportional sides). The hint is not cosmetic:
    # Catalyst's STATIC size estimate for the bitmap derives from its huge
    # exploded-eval child, so without the hint a tight broadcast budget
    # plans sort-merge joins and the training grams get map-written for 4
    # probe exchanges before AQE can convert (measured: 215 MB shuffled
    # vs 87 MB for the exact join at R=16 under a 2 MiB budget —
    # tools/bloom_crossover.py). A word absent from the bitmap means
    # bits=0.
    train = sh.filter(~is_eval)
    for i in range(BLOOM_K):
        train = (
            train.withColumn(f"p{i}", _bloom_pos(F.col("h"), i))
            .withColumn(f"w{i}", F.shiftright(F.col(f"p{i}"), 5).cast("int"))
            .withColumn(
                f"m{i}",
                F.expr(f"shiftleft(cast(1 as bigint), cast(p{i} & 31 as int))"),
            )
        )
    for i in range(BLOOM_K):
        b = F.broadcast(
            bitmap.select(
                F.col("word").alias(f"word{i}"), F.col("bits").alias(f"bits{i}")
            )
        )
        train = train.join(b, train[f"w{i}"] == b[f"word{i}"], "left")
    hit = None
    for i in range(BLOOM_K):
        h_i = (
            F.coalesce(F.col(f"bits{i}"), F.lit(0)).bitwiseAND(F.col(f"m{i}")) != 0
        )
        hit = h_i if hit is None else (hit & h_i)
    flagged = train.select("doc_id", hit.cast("int").alias("hit"))
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"), F.sum("hit").alias("n_flagged")
    )
    # left join from the training-doc universe: zero-gram docs belong in
    # the audit output too (same policy as decontaminate_frac)
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
            F.round(
                F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0)).otherwise(
                    F.coalesce("n_flagged", F.lit(0)) / F.col("n_grams")
                ),
                6,
            ).alias("flagged_frac"),
        )
    )


def _bloom_pos_sql(h: str, i: int) -> str:
    from .common import hexn_to_bigint_sql

    return f"({hexn_to_bigint_sql(f'substring({h}, {1 + 8 * i}, 8)', 8)} % {BLOOM_BITS})"


def _decontaminate_bloom_sql() -> str:
    pos = [_bloom_pos_sql("h", i) for i in range(BLOOM_K)]
    joins = "\n".join(
        f"left join bitmap b{i} on b{i}.word = (t.p{i} >> 5)" for i in range(BLOOM_K)
    )
    hits = " and ".join(
        f"(coalesce(b{i}.bits, 0) & (1::BIGINT << (t.p{i} & 31)::INT)) <> 0"
        for i in range(BLOOM_K)
    )
    return f"""
with sh as (
  select doc_id, md5(g) as h
  from (
    select doc_id, unnest({dsql.shingles_sql('text', n=DECON_NGRAM)}) as g
    from documents
  )
),
probes as (
  select unnest([{', '.join(pos)}]) as p
  from sh where doc_id % {DECON_EVAL_MOD} = 0
),
bitmap as (
  select (p >> 5) as word, bit_or(1::BIGINT << (p & 31)::INT) as bits
  from probes group by 1
),
train as (
  select doc_id, {', '.join(f'{p} as p{i}' for i, p in enumerate(pos))}
  from sh where doc_id % {DECON_EVAL_MOD} != 0
),
per_gram as (
  select t.doc_id, case when {hits} then 1 else 0 end as hit
  from train t
  {joins}
),
per_doc as (
  select doc_id, count(*) as n_grams, sum(hit)::BIGINT as n_flagged
  from per_gram group by doc_id
)
select d.doc_id,
       coalesce(p.n_grams, 0) as n_grams,
       coalesce(p.n_flagged, 0) as n_flagged,
       round(case when coalesce(p.n_grams, 0) = 0 then 0.0::double
             else coalesce(p.n_flagged, 0) / p.n_grams::double end,
             6) as flagged_frac
from (select doc_id from documents where doc_id % {DECON_EVAL_MOD} != 0) d
left join per_doc p using (doc_id)
"""


# --------------------------------------------------------------------------
# Per-domain token-budget selection — "take the best documents of every
# source until its token budget is spent", the data-mixing primitive that
# turns per-domain weights into an actual training subset (the rate-based
# samplers above hit an EXPECTED mass; a budget is a hard cap in tokens).
#
# The naive shape — window cumsum over doc rows ordered by score within
# source — puts an entire domain in one sort task (the doc_keywords
# hot-key lesson, round-5 verdict #2). The scale-correct shape here:
#   1. bucket every doc by (score bucket sb, md5-jitter cell jb) — jb
#      exists ONLY to spread score ties: even a domain where every doc has
#      the same score lands uniformly across 256 jitter cells, so no cell
#      exceeds ~n_source/(SB·256) in expectation and ~n_source/256 in the
#      all-ties worst case;
#   2. per-cell token histogram (one map-combined groupBy over a bounded
#      key space) + running cumsum over the TINY histogram (window
#      partitions hold ≤ SB·256 rows per source — bounded by constants,
#      never by corpus);
#   3. join the cell verdict back: cells fully inside the budget keep all
#      docs MAP-SIDE (no doc-row shuffle; the histogram side is
#      #sources-proportional so no broadcast hint — AQE decides), cells
#      fully outside drop map-side;
#   4. only the ONE boundary cell per source is resolved exactly, with an
#      intra-cell window ordered by the md5 tie-break — a partition of
#      ~n_source/10k docs, not a domain.
# Keep rule: a doc is kept iff the token mass of all strictly-higher-
# priority docs (priority = sb desc, jb desc, h desc) is < the budget —
# greedy prefix fill; the last kept doc may overflow the budget.
#
# The full-keep/boundary union reads the doc table twice (two narrow
# column-pruned scans) — the deliberate trade for keeping the doc-row side
# shuffle-light: when AQE can broadcast the histogram the verdict join is
# map-side and doc rows never shuffle at all; when the histogram itself is
# large (many sources) the join degrades to an equi-join on the
# well-spread (source, sb, jb) cell key — skew-splittable, never a
# per-source sort. The single-window alternative costs one scan but
# ALWAYS exchanges every doc row.
# --------------------------------------------------------------------------
TBS_SEED = "tbs-v1"
TBS_BUDGET = 800  # tokens per source; production wires a per-source map
TBS_SCORE_BUCKETS = 40


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import token_count_col
    from .textstats import qc_logit_col

    from .common import scoped_cache

    docs = table(spark, sf_dir, "documents")
    # THE quality_classifier scoring path (shared qc_logit_col — one
    # definition, so the budget ranking and the filter can never drift)
    logit = qc_logit_col(F.col("text"))
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    h = F.md5(F.concat_ws("|", F.lit(TBS_SEED), F.col("doc_id")))
    # cached (round 7): the scored frame feeds THREE consumers — the
    # histogram groupBy and both verdict-join branches (full-keep +
    # boundary) — and Catalyst does not CSE across them, so the regex
    # scoring pipeline (tokenize + stopword + punct + tidy) otherwise runs
    # once per consumer over the full corpus (measured 3.5→1.6s warm at
    # sf0.1, interleaved min-of-3). The cached frame is doc-rows × 7 narrow
    # columns (no text), released when the caller drops the result
    # (scoped_cache).
    d = docs.select(
        "doc_id",
        "source",
        token_count_col(F.col("text")).cast("bigint").alias("n_tokens"),
        prob.alias("prob"),
        h.alias("h"),
    ).select(
        "*",
        F.floor(F.col("prob") * TBS_SCORE_BUCKETS).cast("int").alias("sb"),
        F.conv(F.substring("h", 1, 2), 16, 10).cast("int").alias("jb"),
    ).cache()
    hist = d.groupBy("source", "sb", "jb").agg(F.sum("n_tokens").alias("tb"))
    w_hist = (
        Window.partitionBy("source")
        .orderBy(F.desc("sb"), F.desc("jb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hc = hist.withColumn(
        "cum_before", F.coalesce(F.sum("tb").over(w_hist), F.lit(0))
    )
    j = d.join(hc, ["source", "sb", "jb"])
    out_cols = ["source", "doc_id", F.col("prob").alias("quality_prob"), "n_tokens"]
    full_keep = j.filter(F.col("cum_before") + F.col("tb") <= TBS_BUDGET)
    w_cell = (
        Window.partitionBy("source", "sb", "jb")
        .orderBy(F.desc("h"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bnd_keep = (
        j.filter(
            (F.col("cum_before") < TBS_BUDGET)
            & (F.col("cum_before") + F.col("tb") > TBS_BUDGET)
        )
        .withColumn(
            "intra", F.coalesce(F.sum("n_tokens").over(w_cell), F.lit(0))
        )
        .filter(F.col("cum_before") + F.col("intra") < TBS_BUDGET)
    )
    return scoped_cache(
        full_keep.select(*out_cols).unionAll(bnd_keep.select(*out_cols)), d
    )


def _token_budget_select_sql() -> str:
    from .common import hexn_to_bigint_sql
    from .textstats import qc_logit_sql

    return f"""
with d as (
  select doc_id, source,
         ({dsql.token_count_sql('text')})::BIGINT as n_tokens,
         round(1.0 / (1.0 + exp(-{qc_logit_sql('text')})), 6) as prob,
         md5('{TBS_SEED}' || '|' || doc_id::varchar) as h
  from documents
),
d2 as (
  select *, cast(floor(prob * {TBS_SCORE_BUCKETS}) as int) as sb,
         cast({hexn_to_bigint_sql('h', 2)} as int) as jb
  from d
),
hist as (
  select source, sb, jb, sum(n_tokens)::BIGINT as tb
  from d2 group by 1, 2, 3
),
hc as (
  select *, coalesce(sum(tb) over (
    partition by source order by sb desc, jb desc
    rows between unbounded preceding and 1 preceding), 0)::BIGINT as cum_before
  from hist
),
j as (
  select d2.source, d2.doc_id, d2.prob, d2.n_tokens, d2.h, d2.sb, d2.jb,
         hc.tb, hc.cum_before
  from d2 join hc using (source, sb, jb)
),
bnd as (
  select *, coalesce(sum(n_tokens) over (
    partition by source, sb, jb order by h desc
    rows between unbounded preceding and 1 preceding), 0)::BIGINT as intra
  from j where cum_before < {TBS_BUDGET} and cum_before + tb > {TBS_BUDGET}
)
select source, doc_id, prob as quality_prob, n_tokens
from j where cum_before + tb <= {TBS_BUDGET}
union all
select source, doc_id, prob as quality_prob, n_tokens
from bnd where cum_before + intra < {TBS_BUDGET}
"""


# --------------------------------------------------------------------------
# The end-to-end flagship (round-4 verdict #6): corpus → EXTRACT → chunk →
# quality ∧ lang ∧ near-dup ∧ decontaminate → selected training chunk set.
# This is the pipeline the engine exists for: every stage is the already-
# benchmarked operator, composed over REAL extraction output rather than the
# synthetic documents table. The oracle side takes the chunk table from the
# committed extraction golden (content-digest selected) and replays the
# selection in static SQL.
# --------------------------------------------------------------------------
CHUNK_MIN_TOKENS = 10


def select_training_chunks(chunks: DataFrame) -> DataFrame:
    """The selection core over ANY chunk table (the production shape: the
    extract job's chunks output read back from Iceberg/parquet) — shared by
    the training_subset_chunks driver query and jobs/select_job.py.

    Filters, each the production operator at chunk granularity:
    - holdout: chunks of eval docs (doc_id % DECON_EVAL_MOD == 0) excluded;
    - quality: chunker token count floor + stopword-ratio floor;
    - language: predicted en only;
    - near-dup: keep-smallest-canonical MinHash-LSH — a chunk is dropped
      iff any of its band buckets contains a smaller chunk id (O(n) bucket
      minima, never the O(pairs) self-join: the synthetic corpus's
      boilerplate-heavy chunks produce 12M pairs from 42k chunks at sf0.1,
      exactly the blow-up a 100-TB run must not pay);
    - decontamination: drop any chunk sharing a word 13-gram with the
      holdout chunks.

    Scale shape: the chunk table is the extraction output (Iceberg at
    production scale); the dup-set, contaminated-set, and eval-gram sides
    all grow LINEARLY with the corpus (removal rate × corpus / the 1/50
    holdout slice), so none of them carries a forced F.broadcast() hint —
    a hard-coded hint OOMs the driver at 100 TB on a multi-percent dup
    rate, while AQE broadcasts exactly the sides it measures small at
    runtime (at sandbox scale: all of them, plan-asserted in
    tests/test_operators.py). The only big shuffles are the two shingle
    groupBys already benchmarked in the dedup suite."""
    from .dedup import lsh_bucket_dups, shingle_rows_from

    # try_cast + coalesce the holdout predicate: a NON-numeric doc_id (a
    # UUID-style id from a real extraction run) must not break selection —
    # a plain cast THROWS under ANSI mode, and a bare NULL predicate fails
    # BOTH filter(is_eval) and filter(~is_eval), silently vanishing the
    # doc's chunks from eval AND training (masked as 'filtered' in
    # select_job's lineage). Non-castable ids are training docs; the
    # deterministic %-slice holdout only applies to numeric ids (in
    # production the holdout is the benchmark table).
    #
    # Round-7 measurement notes, so the next round doesn't re-try them:
    # (a) a staged-token-array cache (tokenize once, derive every shingle
    # width from the cached array<string>) was prototyped and REJECTED —
    # reading token arrays back from the columnar cache cost MORE than
    # re-running the regex tokenizer (dups-from-cache 4.7s vs 3.0s from
    # scratch at sf0.1), and the two 13-gram "passes" are filter-pushdown-
    # split slices (2% + 98% = one pass); (b) materializing lsh_bucket_dups'
    # signature table (cache AND eager localCheckpoint variants) — see the
    # rejection record in lsh_bucket_dups' docstring; the one-action plan's
    # stage overlap beats both.
    is_eval = F.coalesce(
        F.col("doc_id").try_cast("bigint") % DECON_EVAL_MOD == 0, F.lit(False)
    )
    dups = lsh_bucket_dups(shingle_rows_from(chunks, "id"), "id")
    # eval/train gram rows via staged-token shingling (shingle_rows_from:
    # inlined shingles_col re-runs the tokenizer per slice element, 14×)
    # gram keys shuffle as 16-byte digests, not raw 13-gram strings (~6×
    # smaller distinct/semi-join payload — see decontaminate)
    eval_grams = (
        shingle_rows_from(chunks.filter(is_eval), "id", n=DECON_NGRAM)
        .select(F.unhex(F.md5("shingle")).alias("g"))
        .distinct()
    )
    contaminated = (
        shingle_rows_from(chunks.filter(~is_eval), "id", n=DECON_NGRAM)
        .select("id", F.unhex(F.md5("shingle")).alias("g"))
        .join(eval_grams, "g")
        .select("id")
        .distinct()
    )
    scored = chunks.filter(~is_eval).select(
        "id",
        "doc_id",
        "chunk_index",
        "n_tokens",
        F.round(stopword_ratio_col(F.col("text")), 6).alias("stopword_ratio"),
        detect_language_col(F.col("text")).alias("pred_lang"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= CHUNK_MIN_TOKENS)
        & (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
        & (F.col("pred_lang") == "en")
    )
    # anti-join sides unhinted (corpus-proportional — see docstring): AQE
    # picks broadcast at runtime while they are actually small
    return kept.join(dups, "id", "left_anti").join(
        contaminated, "id", "left_anti"
    )


def training_subset_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the selection core over this sf's extracted chunks
    (disk-memoized chunk table — each plan branch scans parquet, the exact
    shape of reading the production chunks table)."""
    from .extraction_queries import extract_chunks_q

    return select_training_chunks(extract_chunks_q(spark, sf_dir))


def _training_subset_chunks_sql() -> str:
    from .dedup import NUM_BANDS
    from .extraction_queries import _CORPUS_KEY_SQL, _golden

    return f"""
with chunks as materialized (
  select doc_id, chunk_index, text, n_tokens, id
  from read_parquet('{_golden("extract_chunks_golden.parquet")}')
  where corpus_key = {_CORPUS_KEY_SQL}
),
sh as materialized (
  select id, unnest({dsql.shingles_sql('text')}) as shingle from chunks
),
sigs as materialized (
  select id, band, min(md5(band::varchar || '|' || shingle)) as sig
  from sh, unnest(range(0, {NUM_BANDS})) as t(band)
  group by id, band
),
dups as materialized (
  select distinct id from (
    select id, min(id) over (partition by band, sig) as mid from sigs
  ) where id > mid
),
gsh as materialized (
  select id, doc_id::bigint % {DECON_EVAL_MOD} = 0 as is_eval,
         unnest({dsql.shingles_sql('text', n=DECON_NGRAM)}) as g
  from chunks
),
ev as materialized (select distinct g from gsh where is_eval),
contaminated as materialized (
  select distinct id from gsh join ev using (g) where not is_eval
)
select id, doc_id, chunk_index, n_tokens, stopword_ratio, pred_lang from (
  select id, doc_id, chunk_index, n_tokens,
         round({dsql.stopword_ratio_sql('text')}, 6) as stopword_ratio,
         {dsql.detect_language_sql('text')} as pred_lang
  from chunks
  where doc_id::bigint % {DECON_EVAL_MOD} != 0
)
where n_tokens >= {CHUNK_MIN_TOKENS}
  and stopword_ratio >= {MIN_STOPWORD_RATIO}
  and pred_lang = 'en'
  and id not in (select id from dups)
  and id not in (select id from contaminated)
"""


TRAINING_SUBSET_CHUNKS_SQL = _training_subset_chunks_sql()

QUERIES = {
    "training_subset": training_subset,
    "training_subset_chunks": training_subset_chunks,
    "stratified_sample": stratified_sample,
    "decontaminate": decontaminate,
}
ORACLES = {
    "training_subset": TRAINING_SUBSET_SQL,
    "training_subset_chunks": TRAINING_SUBSET_CHUNKS_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
    "decontaminate": DECONTAMINATE_SQL,
}


# --------------------------------------------------------------------------
# Rate-based domain-mixture sampling (round 4, extended registry): the
# shuffle-FREE complement of the quota-based stratified_sample — per-source
# keep RATES (a DoReMi/Pile-style domain-weighted training mix) applied as
# a pure filter: keep doc iff u(doc) < rate(source), with u and rate both
# md5-derived (no RNG state, identical on every run/engine). At 100 TB this
# is a full-scan filter with NO exchange anywhere (plan-asserted) — the
# quota variant costs a per-stratum shuffle, this costs none.
# --------------------------------------------------------------------------
MIX_SEED = "mix-rate-v1"


def _hex_bigint_col(c, n: int):
    return F.conv(F.substring(F.md5(c), 1, n), 16, 10).cast("bigint")


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # per-source rate in [0.05, 0.9495): deterministic stand-in for a
    # configured weights table (which would broadcast-join identically)
    rate = (
        (_hex_bigint_col(
            F.concat_ws("|", F.lit(MIX_SEED), F.col("source")), 4
        ) % 1000)
        / F.lit(1000.0) * F.lit(0.9) + F.lit(0.05)
    )
    u = _hex_bigint_col(
        F.concat_ws("|", F.lit(MIX_SEED), F.lit("doc"), F.col("doc_id")), 8
    ) / F.lit(4294967295.0)
    return (
        docs.select(
            "doc_id", "source", "lang", F.round(rate, 6).alias("keep_rate")
        )
        .filter(u < rate)
    )


def _mixture_sample_sql() -> str:
    from .common import hexn_to_bigint_sql

    rate_h = hexn_to_bigint_sql(f"md5('{MIX_SEED}' || '|' || source)", 4)
    u_h = hexn_to_bigint_sql(
        f"md5('{MIX_SEED}' || '|' || 'doc' || '|' || doc_id::varchar)", 8
    )
    return f"""
select doc_id, source, lang,
       round(({rate_h} % 1000) / 1000.0 * 0.9 + 0.05, 6) as keep_rate
from documents
where {u_h} / 4294967295.0
      < ({rate_h} % 1000) / 1000.0 * 0.9 + 0.05
"""


MIXTURE_SAMPLE_SQL = _mixture_sample_sql()


# --------------------------------------------------------------------------
# Temperature-based domain rebalancing (the multilingual-LM mixture recipe:
# XLM-R / mT5-style α-scaling, UniMax's capped variant): target share of
# domain s ∝ n_s^α (α < 1 upsamples the tail relative to the head), at
# constant corpus size, so rate_s = min(1, n_s^α / Σ n_t^α · N / n_s).
# Unlike mixture_sample's CONFIGURED rates, the rates here are
# DATA-DEPENDENT: one map-combined groupBy(domain) count, the Σ as a
# single-row broadcast aggregate (the BM25 corpus-stats pattern), rates
# joined back on the domain key (bounded by #domains — unhinted, AQE
# decides), then the same deterministic hash-rate keep as mixture_sample.
# Two tiny aggregates + one filter — the docs table itself never shuffles.
# --------------------------------------------------------------------------
TEMP_ALPHA = 0.5


def temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # cached: the #domains-sized count frame feeds both the Σ aggregate and
    # the rate projection — without it each reference re-scans the table's
    # lang column (two full scans at corpus scale); released via
    # scoped_cache when the caller drops the result
    counts = docs.groupBy("lang").agg(F.count("*").alias("n")).cache()
    tot = counts.agg(
        F.sum(F.pow("n", TEMP_ALPHA)).alias("sa"), F.sum("n").alias("nn")
    )
    # rate expression written with the SAME association order as the SQL
    # (((n^α / sa) · nn) / n) so both engines produce bit-identical doubles
    rate = F.round(
        F.least(
            F.lit(1.0), F.pow("n", TEMP_ALPHA) / F.col("sa") * F.col("nn") / F.col("n")
        ),
        6,
    )
    # no F.broadcast hint even on this 1-row stats frame: the module bans
    # hints wholesale (pinned by test) and AQE broadcasts a 1-row side on
    # its own — a cross join with a single aggregate row is always BNLJ
    rates = counts.join(tot).select("lang", rate.alias("keep_rate"))
    u = _hex_bigint_col(
        F.concat_ws("|", F.lit(MIX_SEED), F.lit("temp"), F.col("doc_id")), 8
    ) / F.lit(4294967295.0)
    out = (
        docs.select("doc_id", "lang", u.alias("u"))
        .join(rates, "lang")
        .filter(F.col("u") < F.col("keep_rate"))
        .select("doc_id", "lang", "keep_rate")
    )
    from .common import scoped_cache

    return scoped_cache(out, counts)


def _temperature_sample_sql() -> str:
    from .common import hexn_to_bigint_sql

    u_h = hexn_to_bigint_sql(
        f"md5('{MIX_SEED}' || '|' || 'temp' || '|' || doc_id::varchar)", 8
    )
    return f"""
with c as (select lang, count(*) as n from documents group by lang),
tot as (select sum(power(n, {TEMP_ALPHA})) as sa, sum(n)::double as nn from c),
r as (
  select lang,
         round(least(1.0, power(n, {TEMP_ALPHA}) / sa * nn / n), 6) as keep_rate
  from c, tot
)
select d.doc_id, d.lang, r.keep_rate
from documents d join r using (lang)
where {u_h} / 4294967295.0 < r.keep_rate
"""


TEMPERATURE_SAMPLE_SQL = _temperature_sample_sql()

# --------------------------------------------------------------------------
# UniMax language-budget allocation (round 6: Chung et al., ICLR 2023 —
# "UniMax: Fairer and More Effective Language Sampling for Large-Scale
# Multilingual Pretraining"). Where temperature_sample rebalances by a
# CLOSED-FORM power law, UniMax waterfills a total token budget B
# UNIFORMLY across languages subject to a per-language repeat cap of
# UNIMAX_EPOCHS passes over its supply: ascending by capped supply
# c_l = E·n_l, a language is capped iff its cap can't absorb the fair
# share of what remains — flag_l := c_l·(L−rank+1) ≤ B − cumsum_prev(c)
# (the standard waterfilling prefix test: once false it stays false, so
# no iteration is needed); capped languages take c_l, the rest split the
# remainder equally. The WHOLE algorithm runs as windows over the
# per-LANGUAGE aggregate — a frame bounded by #languages (the sanctioned
# window class; the single-partition window never sees doc rows). Doc
# rows NEVER shuffle: one map-combined groupBy(lang) sum builds the
# supply table, the ≤L-row allocation joins back on lang unhinted (AQE
# broadcasts it — `lang` is the worst shuffle key: low-cardinality AND
# skewed, so an SMJ would funnel each language into one task), and the
# per-doc epoch count comes from the same deterministic hash jitter as
# mixture_sample (n_copies = floor(epochs) + 1{u < frac(epochs)}, an
# unbiased integerization of fractional epochs). All intermediate doubles
# are exact (integer-valued caps/cumsums below 2^53), so the two engines
# agree bit-for-bit on the branch decisions.
# --------------------------------------------------------------------------
UNIMAX_EPOCHS = 2.0
UNIMAX_BUDGET_FRAC = 1.5  # B = 1.5 × total corpus tokens


def unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import token_count_col

    docs = table(spark, sf_dir, "documents")
    # coalesce NULL token counts (NULL text) to 0: a NULL supply would ride
    # the waterfill as a NULL cap — counted in L but never capped, stealing
    # an unconsumed fair share (budget underfill), with engine-divergent
    # NULL ordering on top; a 0 cap instead caps immediately at 0 and the
    # waterfill redistributes its share exactly (hypothesis-caught)
    per_doc = docs.select(
        "doc_id",
        "lang",
        F.coalesce(
            token_count_col(F.col("text")).cast("bigint"), F.lit(0)
        ).alias("n_tok"),
    )
    # supply table: bigint sums stay exact; doubles derived once from them
    counts = per_doc.groupBy("lang").agg(F.sum("n_tok").alias("nl")).cache()
    c = counts.select(
        "lang",
        F.col("nl").cast("double").alias("n"),
        (F.lit(UNIMAX_EPOCHS) * F.col("nl").cast("double")).alias("cap"),
    )
    tot = counts.agg(
        (F.lit(UNIMAX_BUDGET_FRAC) * F.sum("nl").cast("double")).alias("B"),
        F.count("*").alias("L"),
    )
    # single-row side: AQE plans the cross join as BNLJ on its own (module
    # bans forced hints — pinned by test_training_set_has_no_forced_broadcast_hints)
    j = c.join(tot)
    w_ord = Window.orderBy("cap", "lang")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    f = j.select(
        "*",
        F.row_number().over(w_ord).alias("rn"),
        F.coalesce(F.sum("cap").over(w_prev), F.lit(0.0)).alias("cumprev"),
    )
    g = f.select(
        "*",
        (
            F.col("cap") * (F.col("L") - F.col("rn") + 1)
            <= F.col("B") - F.col("cumprev")
        ).alias("capped"),
    )
    # full-frame sums over the same ≤L-row frame (order-free: the summed
    # caps are integer-valued doubles, exact under any accumulation order)
    w_all = Window.partitionBy()
    h = g.select(
        "*",
        F.sum(
            F.when(F.col("capped"), F.col("cap")).otherwise(F.lit(0.0))
        ).over(w_all).alias("bcap"),
        F.sum(
            F.when(F.col("capped"), F.lit(1)).otherwise(F.lit(0))
        ).over(w_all).alias("ncap"),
    )
    # B < Σcap structurally (FRAC < E at any supply mix where the largest
    # language holds > (FRAC/E − (L−1)·f_min) mass) → the last row never
    # caps → L > ncap; CaseWhen shields the division per row regardless
    alloc = F.when(F.col("capped"), F.col("cap")).otherwise(
        (F.col("B") - F.col("bcap")) / (F.col("L") - F.col("ncap"))
    )
    rates = h.select("lang", "n", "capped", alloc.alias("alloc"))
    # zero-supply guard: a language whose docs are all empty text has
    # n = 0.0 (alloc = cap = 0 via the capped branch) — under ANSI mode a
    # bare alloc/n THROWS on the whole job, and DuckDB would emit NaN; the
    # defined semantics are epochs NULL / n_copies 0 (nothing to repeat)
    ep = F.when(F.col("n") > 0, F.col("alloc") / F.col("n"))
    u = _hex_bigint_col(
        F.concat_ws("|", F.lit(MIX_SEED), F.lit("unimax"), F.col("doc_id")), 8
    ) / F.lit(4294967295.0)
    out = per_doc.join(rates, "lang").select(
        "doc_id",
        "lang",
        "n_tok",
        "capped",
        F.round(ep, 6).alias("epochs"),
        F.when(
            F.col("n") > 0,
            F.floor(ep)
            + F.when(u < ep - F.floor(ep), F.lit(1)).otherwise(F.lit(0)),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("n_copies"),
    )
    from .common import scoped_cache

    return scoped_cache(out, counts)


def _unimax_budget_sql() -> str:
    from ..functions import duckdb_sql as dsql
    from .common import hexn_to_bigint_sql

    u_h = hexn_to_bigint_sql(
        f"md5('{MIX_SEED}' || '|' || 'unimax' || '|' || doc_id::varchar)", 8
    )
    return f"""
with pd as (
  select doc_id, lang,
         coalesce(({dsql.token_count_sql('text')})::bigint, 0) as n_tok
  from documents
),
c as (
  select lang, (sum(n_tok))::double as n,
         {UNIMAX_EPOCHS} * ((sum(n_tok))::double) as cap,
         sum(n_tok) as nl
  from pd group by lang
),
tot as (
  select {UNIMAX_BUDGET_FRAC} * ((sum(nl))::double) as B, count(*) as L
  from c
),
f as (
  select c.lang, c.n, c.cap, t.B, t.L,
         row_number() over (order by c.cap, c.lang) as rn,
         coalesce(sum(c.cap) over (order by c.cap, c.lang
            rows between unbounded preceding and 1 preceding), 0.0) as cumprev
  from c, tot t
),
g as (
  select *, (cap * (L - rn + 1) <= B - cumprev) as capped from f
),
h as (
  select *,
         sum(case when capped then cap else 0.0 end) over () as bcap,
         sum(case when capped then 1 else 0 end) over () as ncap
  from g
),
r as (
  select lang, n, capped,
         case when capped then cap
              else (B - bcap) / (L - ncap) end as alloc
  from h
)
select pd.doc_id, pd.lang, pd.n_tok, r.capped,
       round(case when r.n > 0 then r.alloc / r.n end, 6) as epochs,
       (case when r.n > 0 then
          floor(r.alloc / r.n)
          + case when {u_h} / 4294967295.0
                      < r.alloc / r.n - floor(r.alloc / r.n)
                 then 1 else 0 end
        else 0 end)::int as n_copies
from pd join r using (lang)
"""


UNIMAX_BUDGET_SQL = _unimax_budget_sql()

# --------------------------------------------------------------------------
# Sequence packing (round 5): assign extracted chunks to fixed-token-budget
# training sequences — the batch-prep step between selection and the
# trainer (GPT-style concat-then-split: the chunk stream is concatenated in
# a deterministic order and cut every PACK_BUDGET tokens; a chunk belongs
# to the sequence its FIRST token lands in, so chunks may straddle a cut —
# the trainer's attention mask handles that, and no stateful best-fit scan
# is needed). Packing runs WITHIN md5-derived buckets, not a global order:
# a global window is one task at any scale; per-bucket packing is parallel
# UP TO THE BUCKET COUNT, so the bucket count SCALES WITH INPUT SIZE —
# ceil(n_chunks / PACK_TARGET_ROWS) buckets (floor PACK_MIN_BUCKETS), so
# no bucket's single-task window sort ever exceeds ~PACK_TARGET_ROWS rows
# regardless of corpus size (a fixed count would be a hard parallelism cap
# and a straggler/OOM at 100 TB). The count rides the plan as a single-row
# broadcast aggregate (the BM25 corpus-stats pattern — no driver action),
# and each bucket's stream is still deterministic (bucket, doc_id,
# chunk_index) for any fixed input. One shuffle on bucket.
# --------------------------------------------------------------------------
PACK_BUDGET = 512
PACK_MIN_BUCKETS = 16
PACK_TARGET_ROWS = 1_000_000


def pack_chunks(
    chunks: DataFrame,
    n_buckets: int | None = None,
    target_rows_per_bucket: int = PACK_TARGET_ROWS,
) -> DataFrame:
    """The packing core over ANY (id, doc_id, chunk_index, n_tokens) chunk
    frame — shared by the pack_sequences driver query and
    jobs/select_job.py --pack (where it runs over the SELECTED subset).

    `n_buckets` pins an explicit bucket count (sequence ids are a function
    of it — pin it when replaying against a prior run's output); the
    default derives it from the input size so per-bucket window sorts stay
    bounded by ~`target_rows_per_bucket` rows."""
    from pyspark.sql import Window

    if n_buckets is not None:
        nb_col = F.lit(int(n_buckets))
        with_nb = chunks
    else:
        # no F.broadcast hint (this module bans them, pinned by test): the
        # zero-key aggregate is ≤1 row, so the planner builds the cross
        # join's right side as a broadcast on its own size estimate —
        # plan-asserted BroadcastNestedLoopJoin, never a CartesianProduct
        nb = chunks.groupBy().agg(
            F.greatest(
                F.lit(PACK_MIN_BUCKETS).cast("bigint"),
                F.ceil(F.count("*") / F.lit(float(target_rows_per_bucket))),
            ).alias("_n_buckets")
        )
        nb_col = F.col("_n_buckets")
        with_nb = chunks.crossJoin(nb)
    # 15 hex chars (60 bits) of the doc digest, not 6 (2^24 would silently
    # cap the derived bucket count — empty buckets past 16.7M at extreme
    # scale). Bucketing is per-DOC by design (a doc's chunks stay
    # contiguous in its bucket's stream — the GPT-style packing order);
    # the per-bucket row bound therefore assumes max-chunks-per-doc ≪
    # target_rows_per_bucket, which the chunker's fixed token budget makes
    # true for any non-pathological document.
    bucket = F.pmod(_hex_bigint_col(F.col("doc_id"), 15), nb_col).alias("bucket")
    # explicit ROWS frame: Spark's default for an ordered window is RANGE,
    # which aggregates ALL peer rows together — two rows with the same
    # (doc_id, chunk_index) (a replayed non-idempotent writer) would each
    # get a cum including the other's tokens and diverge from the oracle's
    # 'rows between unbounded preceding and current row'
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_index")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_b = with_nb.select("id", "doc_id", "chunk_index", "n_tokens", bucket)
    cum = F.sum("n_tokens").over(w)
    return with_b.select(
        "id",
        "doc_id",
        "chunk_index",
        "bucket",
        (cum - F.col("n_tokens")).alias("tok_offset"),
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET)
        .cast("bigint")
        .alias("seq_id"),
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extraction_queries import extract_chunks_q

    return pack_chunks(extract_chunks_q(spark, sf_dir))


def _pack_sequences_sql() -> str:
    from .common import hexn_to_bigint_sql
    from .extraction_queries import _CORPUS_KEY_SQL, _golden

    bucket = f"{hexn_to_bigint_sql('md5(doc_id)', 15)} % n_buckets"
    return f"""
with raw as (
  select doc_id, chunk_index, n_tokens, id
  from read_parquet('{_golden("extract_chunks_golden.parquet")}')
  where corpus_key = {_CORPUS_KEY_SQL}
),
nb as (
  select greatest({PACK_MIN_BUCKETS}, cast(ceil(
    count(*) / {PACK_TARGET_ROWS}.0) as bigint)) as n_buckets
  from raw
),
chunks as (
  select doc_id, chunk_index, n_tokens, id, {bucket} as bucket
  from raw, nb
),
cum as (
  select id, doc_id, chunk_index, bucket,
         sum(n_tokens) over (
           partition by bucket order by doc_id, chunk_index
           rows between unbounded preceding and current row
         ) - n_tokens as tok_offset
  from chunks
)
select id, doc_id, chunk_index, bucket, tok_offset::bigint as tok_offset,
       cast(floor(tok_offset / {PACK_BUDGET}.0) as bigint) as seq_id
from cum
"""


PACK_SEQUENCES_SQL = _pack_sequences_sql()


# --------------------------------------------------------------------------
# DSIR — data selection via hashed-n-gram importance resampling (Xie et
# al. 2023, arXiv:2302.03169): per-doc importance = mean log-ratio of a
# TARGET-domain hashed-bigram LM over the RAW-corpus LM. The contrastive
# complement to lm_perplexity (one model scores fluency; the ratio scores
# domain match). Target stand-in: doc_id % DSIR_TARGET_MOD == 0 (in
# production the target sample is read from its own table and feeds the
# same plan).
#
# Scale shape — the whole point of DSIR's hashing: the model is
# STRUCTURALLY bounded at DSIR_BUCKETS rows regardless of corpus size, so
# every model-side join is a sanctioned bounded broadcast (the bloom-
# bitmap class) and training-doc rows NEVER shuffle on a feature key.
# Raw and target counts come from ONE aggregation over the per-doc
# feature frame (sum + conditional sum — no differing filter pushdown),
# which lets AQE's ReusedExchange serve both the model build and the
# scoring side from a single corpus pass (verified in the final adaptive
# plan; the lm_perplexity branches can't reuse precisely because their
# slice filter pushes down differently).
#
# keep is relative (score >= corpus mean) rather than a pinned constant:
# the smoothed log-ratio's absolute level moves with corpus size (the +1/
# +B smoothing dominates small corpora), while "more target-like than the
# average doc" is scale-free — and it is DSIR's actual decision rule
# (resample ∝ importance) reduced to a deterministic cut. Docs with <2
# tokens carry n_feats=0 and NULL score, kept=false (never dropped).
# --------------------------------------------------------------------------
DSIR_BUCKETS = 8192
DSIR_TARGET_MOD = 10


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_col

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text"), lower=True).alias("arr")
    )
    # adjacent-pair structs; sequence(1, 0) would yield DESCENDING [1, 0]
    pair_t = "array<struct<w1:string,w2:string>>"
    pairs = F.when(
        F.size("arr") < 2, F.lit(None).cast(pair_t)
    ).otherwise(
        F.expr(
            "transform(sequence(1, size(arr) - 1),"
            " i -> struct(arr[i-1] as w1, arr[i] as w2))"
        )
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.col("bg.w1"), F.col("bg.w2"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % DSIR_BUCKETS
    )
    feat = (
        toks.select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("cnt"))
    )
    is_target = F.col("doc_id") % DSIR_TARGET_MOD == 0
    # raw + target counts in ONE pass (conditional sum, not a filter — a
    # pushed-down filter would change this branch's exchange and defeat
    # ReusedExchange); output bounded at DSIR_BUCKETS rows
    bkt = feat.groupBy("b").agg(
        F.sum("cnt").alias("cr"),
        F.sum(F.when(is_target, F.col("cnt")).otherwise(F.lit(0))).alias(
            "ct"
        ),
    )
    tot = bkt.agg(F.sum("cr").alias("r_tot"), F.sum("ct").alias("t_tot"))
    smooth = F.lit(float(DSIR_BUCKETS))
    # single-row sides stay unhinted per the module ban — AQE sizes them
    weights = bkt.crossJoin(tot).select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.col("t_tot") + smooth))
            - F.log((F.col("cr") + 1.0) / (F.col("r_tot") + smooth))
        ).alias("w"),
    )
    scored = (
        # the ONE hint: structurally bounded (<= DSIR_BUCKETS weight
        # rows, a compile-time constant — the bloom-bitmap class), and
        # load-bearing for the same reason: the static size estimate
        # derives from the corpus-sized exploded child, so a tight
        # broadcast budget would plan SMJ and shuffle the training-doc
        # feature rows on b before AQE could convert
        feat.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            (F.sum(F.col("cnt") * F.col("w")) / F.sum("cnt")).alias(
                "raw_score"
            ),
        )
    )
    mu = scored.agg(F.avg("raw_score").alias("mu"))
    score6 = F.round(F.col("raw_score"), 6)
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(mu)
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            score6.alias("score"),
            F.coalesce(
                score6 >= F.round(F.col("mu"), 6), F.lit(False)
            ).alias("keep"),
        )
    )


def _dsir_select_sql() -> str:
    from .common import hexn_to_bigint_sql

    h = hexn_to_bigint_sql("md5(arr[i] || ' ' || arr[i + 1])", 8)
    return f"""
with toks as (
  select doc_id, {dsql.tokens_sql('text', lower=True)} as arr from documents
),
big0 as (
  select doc_id, unnest(range(1, len(arr))) as i, arr
  from toks where len(arr) >= 2
),
feat as (
  select doc_id, b, count(*) as cnt from (
    select doc_id, {h} % {DSIR_BUCKETS} as b from big0
  ) group by doc_id, b
),
bkt as (
  select b, sum(cnt) as cr,
         sum(case when doc_id % {DSIR_TARGET_MOD} = 0 then cnt else 0 end)
           as ct
  from feat group by b
),
tot as (select sum(cr) as r_tot, sum(ct) as t_tot from bkt),
w as (
  select b, ln((ct + 1.0) / (t_tot + {DSIR_BUCKETS}.0))
            - ln((cr + 1.0) / (r_tot + {DSIR_BUCKETS}.0)) as w
  from bkt cross join tot
),
scored as (
  select f.doc_id, sum(f.cnt) as n_feats,
         sum(f.cnt * w.w) / sum(f.cnt) as raw_score
  from feat f join w using (b) group by f.doc_id
),
m as (select avg(raw_score) as mu from scored)
select d.doc_id, coalesce(s.n_feats, 0)::bigint as n_feats,
       round(s.raw_score, 6) as score,
       coalesce(round(s.raw_score, 6) >= round(m.mu, 6), false) as keep
from documents d left join scored s using (doc_id) cross join m
"""


DSIR_SELECT_SQL = _dsir_select_sql()

EXTRA_QUERIES = {
    "mixture_sample": mixture_sample,
    "pack_sequences": pack_sequences,
    "decontaminate_frac": decontaminate_frac,
    "decontaminate_bloom": decontaminate_bloom,
    "temperature_sample": temperature_sample,
    "unimax_budget": unimax_budget,
    "token_budget_select": token_budget_select,
    "dsir_select": dsir_select,
}
EXTRA_ORACLES = {
    "mixture_sample": MIXTURE_SAMPLE_SQL,
    "pack_sequences": PACK_SEQUENCES_SQL,
    "decontaminate_frac": DECONTAMINATE_FRAC_SQL,
    "decontaminate_bloom": _decontaminate_bloom_sql(),
    "temperature_sample": TEMPERATURE_SAMPLE_SQL,
    "unimax_budget": UNIMAX_BUDGET_SQL,
    "token_budget_select": _token_budget_select_sql(),
    "dsir_select": DSIR_SELECT_SQL,
}
