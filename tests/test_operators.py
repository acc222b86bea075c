"""Operator correctness vs pure-Python recomputation + physical-plan shape."""

from __future__ import annotations


import duckdb
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs_rows(limit=60):
    con = duckdb.connect()
    return con.execute(
        f"select doc_id, text from read_parquet('{SF}/documents.parquet') "
        f"order by doc_id limit {limit}"
    ).fetchall()


# --- parity: Spark operators vs pure-Python spec ---------------------------
def test_simhash_matches_python(spark):
    from docling_rag_spark.operators.dedup import SIMHASH_BITS, simhash_docs
    from docling_rag_spark.kernels.textutils import md5_hex, tokenize

    def simhash16(text: str) -> int:
        counts = [0] * SIMHASH_BITS
        for t in [w.lower() for w in tokenize(text)]:
            hv = int(md5_hex(t)[: SIMHASH_BITS // 4], 16)
            for j in range(SIMHASH_BITS):
                counts[j] += 1 if (hv >> j) & 1 else -1
        return sum(1 << j for j in range(SIMHASH_BITS) if counts[j] > 0)

    got = {r["doc_id"]: r["simhash"] for r in simhash_docs(spark, SF).collect()}
    for doc_id, text in _docs_rows(40):
        assert got[doc_id] == simhash16(text or ""), doc_id


def test_minhash_sig_matches_python(spark):
    from docling_rag_spark.kernels.textutils import md5_hex, shingles
    from docling_rag_spark.operators.dedup import NUM_BANDS, _shingle_rows

    sh = _shingle_rows(spark, SF)
    sigs = (
        sh.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(NUM_BANDS - 1))).alias("band"), "shingle")
        .select("doc_id", "band", F.md5(F.concat_ws("|", "band", "shingle")).alias("h"))
        .groupBy("doc_id", "band")
        .agg(F.min("h").alias("sig"))
        .collect()
    )
    got = {(r["doc_id"], r["band"]): r["sig"] for r in sigs}
    for doc_id, text in _docs_rows(20):
        sh_py = shingles(text or "")
        if not sh_py:
            continue
        for band in range(NUM_BANDS):
            want = min(md5_hex(f"{band}|{g}") for g in sh_py)
            assert got[(doc_id, band)] == want, (doc_id, band)


def test_fingerprint_matches_python(spark):
    from docling_rag_spark.kernels.textutils import rolling_fingerprint
    from docling_rag_spark.operators.textstats import fingerprints

    got = {r["doc_id"]: r["fingerprint"] for r in fingerprints(spark, SF).collect()}
    for doc_id, text in _docs_rows(30):
        assert got[doc_id] == rolling_fingerprint(text or "")


def test_embed_deterministic_and_normalized(spark):
    from docling_rag_spark.operators.embed import EMBED_DIM, embed_documents

    a = embed_documents(spark, SF).orderBy("doc_id").limit(20).collect()
    b = embed_documents(spark, SF).orderBy("doc_id").limit(20).collect()
    assert a == b
    for r in a:
        assert r["dim"] == EMBED_DIM
        assert abs(r["embedding_norm"] - 1.0) < 1e-3


def test_media_features_deterministic(spark):
    from docling_rag_spark.operators.multimodal import FEAT_DIM, media_features

    df = media_features(spark, SF)
    rows = df.orderBy("doc_id").limit(10).collect()
    assert all(r["decode_status"] == "fake-decode" for r in rows)
    assert all(r["feat_dim"] == FEAT_DIM for r in rows)
    assert all(len(r["feat_md5"]) == 32 for r in rows)
    assert rows == media_features(spark, SF).orderBy("doc_id").limit(10).collect()


# --- physical plan shape ----------------------------------------------------
def test_knn_plan_is_take_ordered(spark):
    from docling_rag_spark.operators.similarity import knn_bruteforce

    plan = knn_bruteforce(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # distributed top-k, no global sort


def test_revenue_plan_broadcasts_dims(spark):
    from docling_rag_spark.operators.retrieval import revenue_by_nation

    plan = revenue_by_nation(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_pushdown_and_pruning(spark):
    from docling_rag_spark.operators.retrieval import pricing_summary

    plan = pricing_summary(spark, SF)._jdf.queryExecution().executedPlan().toString()
    # filter reaches the scan; only needed columns read
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_resume_filter_is_anti_join(spark):
    from docling_rag_spark.pipeline import resume_filter
    from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA, LINEAGE_SCHEMA

    docs = spark.createDataFrame([], schema=DOCUMENTS_SPANS_SCHEMA)
    lin = spark.createDataFrame([], schema=LINEAGE_SCHEMA)
    plan = resume_filter(docs, lin)._jdf.queryExecution().analyzed().toString()
    assert "LeftAnti" in plan


def test_hybrid_fallback_to_vector_only(spark):
    from docling_rag_spark.operators.retrieval import hybrid_search, TOP_K

    # nonsense terms → fulltext empty → vector-only ranking (U2,
    # reference src/retrieval/search.py:26-46)
    out = hybrid_search(spark, SF, ["zzzznope", "qqqq"]).collect()
    assert len(out) == TOP_K
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 <= abs(s) <= 1.0 for s in scores)  # cosine, not rrf
    # real terms → rrf fusion scores (~1/61 max per engine, sum ≤ 2/61)
    fused = hybrid_search(spark, SF, ["spark", "window", "join"]).collect()
    assert len(fused) == TOP_K
    assert all(0.0 < r["score"] < 0.04 for r in fused)


# --- scale-shape guards (round 2) --------------------------------------------
def test_ngram_jaccard_hot_shingle_bounded(spark):
    """A shingle planted in EVERY doc must not produce quadratic pairs: the
    df-cap drops it before the self-join, so docs related ONLY through the
    hot shingle never pair, while rare-shingle duplicates still do.

    Round 6 also pins the cap's PLAN shape: hot rows are removed by a
    LEFT-ANTI join against the tiny over-cap list — never a
    count-over-window partitioned by shingle, which would funnel every
    copy of the hot key into ONE task (unbounded, un-skew-splittable)
    before the cap could drop it."""
    import re

    from docling_rag_spark.operators.dedup import (
        HOT_SHINGLE_DF_CAP,
        _ngram_jaccard_from_shingles,
    )

    n = HOT_SHINGLE_DF_CAP + 50
    rows = []
    for d in range(n):
        rows.append((d, "the hot shingle"))
        rows.append((d, f"unique shingle {d}"))
    # one true duplicate pair sharing only sub-cap shingles
    rows += [(n, "rare a x"), (n, "rare b x"), (n + 1, "rare a x"), (n + 1, "rare b x")]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    result = _ngram_jaccard_from_shingles(sh)
    out = result.collect()
    assert all(r["doc_a"] >= n for r in out), "hot-shingle-only pairs leaked"
    assert any(
        r["doc_a"] == n and r["doc_b"] == n + 1 and r["jaccard"] == 1.0 for r in out
    )
    plan = _formatted_plan(result)
    assert not re.findall(r"\bWindow \[", plan)
    assert "LeftAnti" in plan


def test_embedding_lsh_buckets_scale_with_n():
    """Expected bucket occupancy stays bounded as the corpus grows (until the
    EMB_PLANES_MAX signature width caps it — raise that constant at true
    scale)."""
    from docling_rag_spark.operators.similarity import (
        EMB_PLANES_MAX,
        EMB_TARGET_OCCUPANCY,
        _num_buckets,
    )

    prev = 0
    for n in [10, 100, 500, 2_000, 50_000, 1_000_000]:
        nb = _num_buckets(n)
        assert nb >= prev, "bucket count must be nondecreasing in n"
        prev = nb
        if n <= EMB_TARGET_OCCUPANCY * (1 << EMB_PLANES_MAX):
            assert n / nb <= EMB_TARGET_OCCUPANCY
    assert _num_buckets(10**12) == 1 << EMB_PLANES_MAX


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The bucketed range join must compile to an equi (hash) join on
    (user_id, bucket) — a theta/nested-loop plan would be O(n*m) per user."""
    from docling_rag_spark.operators.temporal import range_join_event_neighbors

    plan = (
        range_join_event_neighbors(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_band_pigeonhole_lossless():
    """Banding catches EVERY pair within SIMHASH_HAMMING_MAX: at most 3
    differing bits cannot touch all 4 bands (pigeonhole), so the candidate
    join loses no qualifying pair."""
    import random

    from docling_rag_spark.operators.dedup import (
        SIMHASH_BANDS,
        SIMHASH_HAMMING_MAX,
    )

    assert SIMHASH_HAMMING_MAX < SIMHASH_BANDS
    from docling_rag_spark.operators.dedup import SIMHASH_BAND_BITS, SIMHASH_BITS

    assert SIMHASH_BANDS * SIMHASH_BAND_BITS == SIMHASH_BITS
    rng = random.Random(11)
    for _ in range(2000):
        a = rng.getrandbits(SIMHASH_BITS)
        flip = rng.sample(range(SIMHASH_BITS), rng.randint(0, SIMHASH_HAMMING_MAX))
        b = a
        for bit in flip:
            b ^= 1 << bit
        w = SIMHASH_BAND_BITS
        bands_a = [(a >> (w * i)) % (1 << w) for i in range(SIMHASH_BANDS)]
        bands_b = [(b >> (w * i)) % (1 << w) for i in range(SIMHASH_BANDS)]
        assert any(x == y for x, y in zip(bands_a, bands_b))


def test_exclude_patterns_match_fnmatch_reference(spark):
    """P2: the rlike translation of the reference's exclude globs
    (src/utils.py:112,117-118) keeps/drops exactly what fnmatch would."""
    import fnmatch

    from docling_rag_spark.sources.corpus import (
        EXCLUDE_PATTERNS,
        exclude_patterns_filter,
    )

    names = [
        "report.pdf", "data.html", ".hidden", "__pycache", "draft.tmp",
        "x.temp", "~lock", "old.bak", "full.backup", "Thumbs.db",
        ".DS_Store", "backup.txt", "tmp.doc", "a.tmp.pdf", "notes.md",
        "__init__.py", "fine~name", "db.Thumbs",
    ]
    paths = [f"/root/docs/sub/{n}" for n in names]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    kept = {r["path"] for r in exclude_patterns_filter(df).collect()}
    want = {
        p for p in paths
        if not any(
            fnmatch.fnmatch(p.rsplit("/", 1)[-1], g) for g in EXCLUDE_PATTERNS
        )
    }
    assert kept == want


def test_operator_caches_released_after_collect(spark):
    """Operator-local .cache()s (minhash sigs, jaccard shingles, simhash/
    embedding band keys) are scoped to the result's lifetime: once the
    caller's action completes and the result object is dropped, executor
    storage holds NO new persistent RDDs (round-2 verdict item #4)."""
    import gc

    from docling_rag_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from docling_rag_spark.operators.similarity import embedding_near_dup

    def persisted_ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    gc.collect()
    before = persisted_ids()
    for fn in (minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs,
               embedding_near_dup):
        n = fn(spark, "/root/testdata/sf0.001").count()
        assert n >= 0
    gc.collect()
    leaked = persisted_ids() - before
    assert not leaked, f"lingering persistent RDDs after collect: {leaked}"


def test_dedup_clusters_releases_iteration_state(spark):
    """dedup_clusters unpersists superseded label checkpoints and the edge
    list; at most the final returned label table may remain persisted."""
    import gc

    from docling_rag_spark.operators.dedup import dedup_clusters

    def persisted_ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    gc.collect()
    before = persisted_ids()
    labels = dedup_clusters(spark, "/root/testdata/sf0.001")
    assert labels.count() == 500
    new = persisted_ids() - before
    # only the final (returned) label checkpoint may remain
    assert len(new) <= 2, f"iteration state leaked: {new}"


def test_banded_pairs_rejects_empty_bands(spark):
    from docling_rag_spark.operators.common import banded_pairs

    df = spark.createDataFrame([(1, 2)], "doc_id int, b0 int")
    with pytest.raises(ValueError, match="band_cols"):
        banded_pairs(df, "doc_id", [], [])


def _formatted_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_simhash_plan_single_exchange_no_bit_explode(spark):
    """Round-3 shape: 32 parallel bit-sum aggregates — exactly ONE hash
    Exchange (the doc_id groupBy) and exactly ONE Generate (the token
    explode); the old plan's second Generate (sequence 0..31) is gone."""
    from docling_rag_spark.operators.dedup import simhash_docs

    plan = _formatted_plan(simhash_docs(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Generate") == 1


def test_bm25_plan_zero_shuffle(spark):
    """Round-3 shape: per-term tf/dl are array expressions, corpus stats a
    broadcast single-row agg — NO hashpartitioning exchange anywhere, and
    the top-k compiles to TakeOrderedAndProject."""
    from docling_rag_spark.operators.retrieval import fulltext_topk_bm25

    plan = _formatted_plan(fulltext_topk_bm25(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert "SortMergeJoin" not in plan


def test_decontaminate_plan_broadcasts_eval_grams(spark):
    """At sandbox scale the eval 13-gram set must end up broadcast — but
    via AQE's runtime size measurement, NOT a forced hint (the eval side
    is corpus-proportional here; a hard-coded F.broadcast() would OOM the
    driver at 100 TB — round-4 verdict #1). Assert the FINAL adaptive plan
    after execution."""
    from docling_rag_spark.operators.training_set import decontaminate

    df = decontaminate(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_training_set_has_no_forced_broadcast_hints(spark):
    """Pin round-4 verdict #1: no CORPUS-PROPORTIONAL side of any join in
    training_set.py carries a forced F.broadcast() hint — every anti-join
    build side there (dup-set, contaminated-set, eval grams) grows
    linearly with the corpus, so the choice belongs to AQE at runtime.
    The sanctioned exceptions are STRUCTURALLY bounded build sides whose
    static size estimate derives from an unbounded child (the K-centroid
    class): decontaminate_bloom's bitmap (row count bounded by the
    BLOOM_WORDS constant; without the hint a tight broadcast budget plans
    SMJ and map-writes the training grams 4× — measured in
    tools/bloom_crossover.py) and dsir_select's weight table (bounded by
    the DSIR_BUCKETS constant, same estimate problem — its child is the
    corpus-sized exploded-bigram frame). Exactly ONE hint in each.
    Source-level pin plus the behavioral half: at sandbox scale AQE must
    still converge every join of the chunk flagship to broadcast (no
    sort-merge join, no forced hint needed)."""
    import ast
    import inspect

    from docling_rag_spark.operators import training_set
    from docling_rag_spark.operators.training_set import training_subset_chunks

    tree = ast.parse(inspect.getsource(training_set))
    sanctioned = {"decontaminate_bloom": None, "dsir_select": 1}
    allowed = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name in sanctioned:
            nodes = {
                id(n)
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "broadcast"
            }
            cap = sanctioned[fn.name]
            if cap is not None:
                assert len(nodes) <= cap, (
                    f"{fn.name} may carry at most {cap} broadcast hint(s)"
                )
            allowed |= nodes
    calls = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "broadcast"
        and id(n) not in allowed
    ]
    assert not calls, (
        "training_set.py must not force-broadcast corpus-proportional sides"
    )
    df = training_subset_chunks(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redaction_cross_engine(spark):
    """The driver corpus carries no PII, so the oracle row for
    text_redact_pii is near-identity — THIS test is the behavioral gate:
    planted emails/phones must be redacted identically by the Spark
    expressions and the DuckDB mirror, with matching counts."""
    import duckdb

    from docling_rag_spark.operators.textstats import (
        PII_EMAIL_RX,
        PII_PHONE_RX,
        redact_pii_cols,
    )

    rows = [
        (1, "contact alice.smith+spam@ex-ample.co.uk or bob@x.io today"),
        (2, "call +1 (555) 123-4567 or 089 123456 now"),
        (3, "mixed: a@b.de then +49 170 1234567 done"),
        (4, "no pii here at all"),
        (5, "edge a@b.c single-letter tld stays"),  # {2,} tld → no match
        (6, "digits 1234567 bare run is 7 long"),   # needs >=8 chars total
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    red, ne, np_ = redact_pii_cols(F.col("text"))
    got = {
        r["doc_id"]: (r["red"], r["ne"], r["np"])
        for r in df.select(
            "doc_id", red.alias("red"), ne.alias("ne"), np_.alias("np")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("create table t(doc_id int, text varchar)")
    con.executemany("insert into t values (?, ?)", rows)
    want = {
        d: (r, e, p)
        for d, r, e, p in con.execute(f"""
            select doc_id,
                   regexp_replace(regexp_replace(text, '{PII_EMAIL_RX}', '<EMAIL>', 'g'),
                                  '{PII_PHONE_RX}', '<PHONE>', 'g'),
                   len(regexp_extract_all(text, '{PII_EMAIL_RX}')),
                   len(regexp_extract_all(regexp_replace(text, '{PII_EMAIL_RX}', '<EMAIL>', 'g'),
                                          '{PII_PHONE_RX}'))
            from t""").fetchall()
    }
    assert got == want
    assert got[1][1] == 2 and "<EMAIL>" in got[1][0]
    assert got[2][2] >= 1 and "<PHONE>" in got[2][0]
    assert got[4] == ("no pii here at all", 0, 0)


def test_paginate_plan_take_ordered_no_global_sort(spark):
    """Round-4 shape (verdict #2): pagination pre-limits via
    TakeOrderedAndProject (distributed partial top-k); the row_number window
    runs over <= offset+page rows, never a full-table single-partition sort.
    A SinglePartition exchange feeding a full-table Sort is the scale-killer
    this guards against."""
    from docling_rag_spark.operators.retrieval import paginate_docs

    plan = _formatted_plan(paginate_docs(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # the only acceptable single-partition movement is of the pre-limited
    # top rows: no global Sort directly over the parquet scan
    import re

    assert not re.search(r"Sort .*\n.*Exchange rangepartitioning", plan)


def test_knn_ivf_batch_plan_no_full_table_crossjoin(spark):
    """Round-4 shape (verdict #3): batch ANN joins the cell-partitioned
    index via a hash join on cell (tiny qcell side built), never a
    cartesian/nested-loop against the full vector table; per-query top-k
    is WindowGroupLimit-pruned map-side before the qid shuffle. The only
    nested-loop join allowed is queries x (<= IVF_CENTROIDS) centroids."""
    from docling_rag_spark.operators.similarity import knn_ivf_batch

    plan = _formatted_plan(knn_ivf_batch(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # centroid broadcast only
    assert "WindowGroupLimit" in plan


def test_knn_ivf_batch_probe_side_unhinted(spark):
    """Round-5: the probe table carries NO forced broadcast hint — the
    batch is caller-sized (bulk self-lookup = the corpus), so the choice
    belongs to AQE (same policy as the training-set anti-joins), and the
    construction runs no eager count() job. The only forced hint in the
    plan is the bounded (<= IVF_CENTROIDS rows) centroid table; at test
    scale AQE still converges the cell join to broadcast at runtime."""
    from docling_rag_spark.operators.similarity import knn_ivf_batch

    df = knn_ivf_batch(spark, SF)
    hints = df._jdf.queryExecution().optimizedPlan().toString().count(
        "strategy=broadcast"
    )
    assert hints == 1  # centroids only
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_plan_two_branches_one_generate(spark):
    """Round-4 shape (verdict #4): gopher filters = one scalar-stats branch
    + ONE tagged (n, gram) explode covering both gram sizes (was three
    branches / three Generates). Not a literal single scan: Catalyst hoists
    non-generator exprs above Generate, so folding the HOF stats under the
    gram explode re-evaluates them per gram row (measured 12s vs 2s)."""
    from docling_rag_spark.operators.textstats import gopher_quality

    plan = _formatted_plan(gopher_quality(spark, SF))
    assert plan.count("Scan parquet") == 2
    assert plan.count("Generate") == 1  # one tagged explode


def test_keyset_page_equals_offset_page(spark):
    """Keyset (cursor) page 2 must return exactly the rows of the
    offset-based paginate_docs page 2."""
    from docling_rag_spark.operators.retrieval import (
        paginate_docs,
        paginate_docs_keyset,
    )

    off = {
        (r["doc_id"], r["n_chars"]) for r in paginate_docs(spark, SF).collect()
    }
    key = {
        (r["doc_id"], r["n_chars"])
        for r in paginate_docs_keyset(spark, SF).collect()
    }
    assert key == off and len(key) > 0


def test_keyset_pagination_empty_table_returns_empty(spark, tmp_path):
    """Round-5 (advice): an empty documents table must yield an empty
    cursor page (the oracle's behavior), not IndexError on the missing
    page-1 last row."""
    from docling_rag_spark.operators.retrieval import paginate_docs_keyset

    spark.createDataFrame([], "doc_id long, n_chars int").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = paginate_docs_keyset(spark, str(tmp_path))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "n_chars"]


def test_ivf_corrupt_artifact_fails_loud(spark, tmp_path, monkeypatch):
    """Round-4 verdict #7: a corrupted persisted IVF index must surface the
    failure, never silently retrain in-session (which would mask artifact
    corruption as a perf blip). Only OSError/AnalysisException (read-only
    dir, zip deploy) fall back."""
    import glob
    import os

    import pytest

    from docling_rag_spark import artifacts
    from docling_rag_spark.operators import similarity as S

    # build a private copy of the artifact under tmp_path, then corrupt its
    # centroids part — the shared artifact under data/ is never touched
    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))
    assigned, cents = S._ivf_index(spark, "/root/testdata/sf0.001")
    assert assigned.count() > 0
    roots = glob.glob(os.path.join(tmp_path, "ivf_centroids_*", "*.parquet"))
    assert roots, "ivf artifact not found"
    with open(roots[0], "w") as f:
        f.write("corrupt, not parquet")
    with pytest.raises(Exception) as ei:
        S._ivf_index(spark, "/root/testdata/sf0.001")[1]
    assert not isinstance(ei.value, (OSError,))


def test_ivf_readonly_valid_artifact_is_served_not_retrained(spark, monkeypatch):
    """Round-5 (advice): a read-only deployment that SHIPS a valid
    pre-built IVF artifact must read it — the writability pre-flight only
    applies when a build is actually needed. Regression: the round-4
    pre-flight ran before the existence check, so a read-only dir with a
    valid index silently retrained per session. Simulated by making every
    write-probe fail (os.access→False, makedirs→OSError; chmod is useless
    here — tests run as root, which ignores mode bits): with a valid
    artifact present neither may even be consulted."""
    import os
    import warnings

    from docling_rag_spark.operators import similarity as S

    S._ivf_index(spark, "/root/testdata/sf0.001")  # ensure artifact exists

    def deny_access(path, mode):
        return False

    def deny_makedirs(*a, **k):
        raise OSError("read-only file system")

    monkeypatch.setattr(os, "access", deny_access)
    monkeypatch.setattr(os, "makedirs", deny_makedirs)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # in-session retrain would warn
        assigned, cents = S._ivf_index(spark, "/root/testdata/sf0.001")
    assert assigned.count() > 0 and len(cents) > 0


def test_lsh_bucket_dups_planted_mega_bucket(spark):
    """Round-5 (verdict #6): demonstrate, not just argue, that
    lsh_bucket_dups survives a boilerplate mega-bucket. Plant ONE bucket
    holding 30% of 100k ids (30k members — the pair form would emit
    ~450M join rows and die); the keep-smallest form must (a) return
    exactly members-minus-minimum, (b) complete within a small factor of
    a uniform control of the SAME row count (no straggler domination:
    the bucket costs b rows, not b²/2)."""
    import time

    from docling_rag_spark.operators.dedup import lsh_bucket_dups

    n = 100_000
    ids = spark.range(n).select(
        F.format_string("id%07d", F.col("id")).alias("id"),
        (F.col("id") % 10 < 3).alias("mega"),
    )
    sh = ids.select(
        "id",
        F.explode(
            F.when(
                F.col("mega"),
                F.array(
                    F.lit("all rights reserved a"),
                    F.lit("rights reserved to b"),
                    F.lit("reserved to the c"),
                ),
            ).otherwise(
                F.array(
                    F.concat(F.col("id"), F.lit("-u1")),
                    F.concat(F.col("id"), F.lit("-u2")),
                    F.concat(F.col("id"), F.lit("-u3")),
                )
            )
        ).alias("shingle"),
    )
    uniform = ids.select(
        "id",
        F.explode(
            F.array(
                F.concat(F.col("id"), F.lit("-v1")),
                F.concat(F.col("id"), F.lit("-v2")),
                F.concat(F.col("id"), F.lit("-v3")),
            )
        ).alias("shingle"),
    )
    # warm the codegen on the control shape first, then time both
    lsh_bucket_dups(uniform, "id").count()
    t0 = time.time()
    n_uniform_dups = lsh_bucket_dups(uniform, "id").count()
    t_uniform = time.time() - t0
    t0 = time.time()
    dups = set(r["id"] for r in lsh_bucket_dups(sh, "id").collect())
    t_mega = time.time() - t0
    mega_ids = {f"id{i:07d}" for i in range(n) if i % 10 < 3}
    assert n_uniform_dups == 0
    assert dups == mega_ids - {min(mega_ids)}
    # O(n) wall bound: generous 4x + 5s guard against host noise — the
    # quadratic form would be minutes, not seconds
    assert t_mega < 4 * t_uniform + 5, (t_mega, t_uniform)


def test_memo_write_failure_warns_and_falls_back(spark, tmp_path, monkeypatch):
    """Round-5 (verdict #5, parity with _ivf_index): a storage-level memo
    write failure must WARN and run the live DAG — a persistent failure
    silently re-running extraction per query is a perf cliff with no
    signal. Non-IO exceptions (a bug in the pipe) still propagate."""
    import pytest
    from pyspark.errors import AnalysisException, PythonException
    from pyspark.sql.readwriter import DataFrameWriter

    from docling_rag_spark import artifacts

    def boom(self, path, **kw):
        raise AnalysisException("simulated storage failure")

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))
    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.warns(UserWarning, match="disk memo"):
        df = artifacts.parquet(
            spark, "memotest", "/root/testdata/sf0.001",
            lambda: spark.range(3),
        )
    assert df.count() == 3

    # a pipe bug is NOT swallowed into a silent live-DAG fallback
    def bad_pipe():
        raise ValueError("bug in the pipeline builder")

    with pytest.raises(ValueError, match="bug in the pipeline"):
        artifacts.parquet(spark, "memotest2", "/root/testdata/sf0.001", bad_pipe)

    # nor is a plan that fails inside a Python UDF: it raises, and the
    # half-written artifact directory is removed
    monkeypatch.undo()
    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))

    def udf_fails(batches):
        for _ in batches:
            raise ValueError("bug in a kernel")
        yield from ()

    with pytest.raises(PythonException, match="bug in a kernel"):
        artifacts.parquet(
            spark, "memotest3", "/root/testdata/sf0.001",
            lambda: spark.range(3).mapInPandas(udf_fails, schema="id long"),
        )
    assert not list(tmp_path.glob("memotest3_*"))


def test_stale_artifact_cleanup_scoping(tmp_path, monkeypatch):
    """Round-5 (advice, medium): clean-up deletes only provably-superseded
    artifacts — built by a different code hash (unreadable by this code),
    or beyond the two most-recent same-code entries. A sibling corpus
    sharing the directory basename survives a rebuild (keep-exactly-one
    caused perpetual thrash + FileNotFound for its concurrent readers);
    other sf tags, other names — including a name the kept one prefixes
    or is prefixed by — are untouched, and an sf tag holding '_' parses."""
    import os
    import time

    from docling_rag_spark import artifacts

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))
    c1, c0 = "c1c1c1c1c1", "dead000000"
    fa, fb, fc = "faaaaaaaaa", "fbbbbbbbbb", "fccccccccc"
    names = [
        f"chunks_{c1}_sf0.01_{fc}.parquet",  # same code, oldest → deleted
        f"chunks_{c1}_sf0.01_{fb}.parquet",  # sibling corpus, same code → kept
        f"chunks_{c1}_sf0.01_{fa}.parquet",  # the just-written artifact → kept
        f"chunks_{c0}_sf0.01_{fa}.parquet",  # other code hash → deleted
        f"chunks_{c1}_sf0.1_{fa}.parquet",  # other sf tag → untouched
        f"chunk_emb_{c0}_sf0.01_{fa}.parquet",  # other name (prefix) → untouched
        f"chunks2_{c0}_sf0.01_{fa}.parquet",  # other name → untouched
        # same sf tag after a '_': another tag, not a sibling → untouched
        f"chunks_{c0}_x_sf0.01_{fa}.parquet",
        # other code hash, NEWER than every same-code sibling: dead, and it
        # must NOT occupy a keep slot (fB above survives despite it)
        f"chunks_zip_sf0.01_{fa}.parquet",
    ]
    now = time.time()
    for i, n in enumerate(names):
        (tmp_path / n).mkdir()
        os.utime(tmp_path / n, (now + i, now + i))
    artifacts._remove_stale("chunks", "sf0.01", str(tmp_path / names[2]))
    left = {p.name for p in tmp_path.iterdir()}
    assert left == set(names) - {names[0], names[3], names[8]}

    # an underscore sf tag (perfbench_curate) and the shorter name of a
    # prefix pair: only chunk_emb's own stale sibling goes
    for n in (
        f"chunk_emb_{c1}_perfbench_curate_{fa}.parquet",
        f"chunk_emb_{c0}_perfbench_curate_{fb}.parquet",
        f"chunks_{c0}_perfbench_curate_{fa}.parquet",
        f"chunk_emb_{c0}_curate_{fa}.parquet",
    ):
        (tmp_path / n).mkdir()
    before = {p.name for p in tmp_path.iterdir()}
    artifacts._remove_stale(
        "chunk_emb", "perfbench_curate",
        str(tmp_path / f"chunk_emb_{c1}_perfbench_curate_{fa}.parquet"),
    )
    left = {p.name for p in tmp_path.iterdir()}
    assert before - left == {f"chunk_emb_{c0}_perfbench_curate_{fb}.parquet"}


def test_source_fingerprint_tracks_data_changes(tmp_path):
    """Memo keys must change when the source parquet changes in place or
    moves — same-basename corpora can never serve each other's memos."""
    from docling_rag_spark.artifacts import source_fingerprint

    a = tmp_path / "x" / "sf0.01"
    b = tmp_path / "y" / "sf0.01"
    for d in (a, b):
        d.mkdir(parents=True)
        (d / "documents.parquet").write_bytes(b"pq1")
    f_a0 = source_fingerprint(str(a))
    assert f_a0 != source_fingerprint(str(b))
    # regenerate in place -> fingerprint changes
    import time

    time.sleep(0.01)
    (a / "documents.parquet").write_bytes(b"pq2-regenerated")
    assert source_fingerprint(str(a)) != f_a0


def test_same_basename_corpora_get_their_own_rows(spark, tmp_path, monkeypatch):
    """Two source dirs sharing a basename (/a/sf0.001 vs /b/sf0.001) must
    each derive their own corpus: the corpus memo is keyed on the source
    fingerprint like every other artifact, never on the basename alone."""
    import pyarrow.parquet as pq

    from docling_rag_spark import artifacts
    from docling_rag_spark.sources.corpus import corpus_for_sf

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    want = {}
    for parent, start in (("a", 0), ("b", 5)):
        d = tmp_path / parent / "sf0.001"
        d.mkdir(parents=True)
        part = docs.slice(start, 5)
        pq.write_table(part, str(d / "documents.parquet"))
        want[str(d)] = sorted(str(x) for x in part.column("doc_id").to_pylist())
    for sf_dir, ids in want.items():
        got = sorted(r["doc_id"] for r in corpus_for_sf(spark, sf_dir).collect())
        assert got == ids, (sf_dir, got, ids)


def test_pack_sequences_plan_bucketed_not_global(spark):
    """Sequence packing must run per md5-bucket: one hash Exchange on
    bucket feeding the running-sum window, and the window sort partitioned
    by bucket — NEVER a single-partition global packing order (one task at
    any scale). The only SinglePartition exchange allowed is the one under
    the single-ROW bucket-count aggregate (a zero-column count scan)."""
    from docling_rag_spark.operators.training_set import pack_sequences

    plan = _formatted_plan(pack_sequences(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(bucket" in plan
    assert "Sort [bucket" in plan
    # the 1-row bucket-count side rides in as a broadcast, not a cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the count-side SinglePartition moves ONE row; a second one would be
    # a real global order
    assert plan.count("Exchange SinglePartition") <= 1
    # every bucket's token stream is contiguous: offsets within (bucket,
    # seq) never exceed the budget start of the NEXT seq
    from docling_rag_spark.operators.training_set import PACK_BUDGET

    rows = pack_sequences(spark, SF).collect()
    for r in rows:
        assert r["seq_id"] == r["tok_offset"] // PACK_BUDGET


def test_pack_chunks_bucket_count_scales_with_input(spark):
    """The round-5 verdict's scale flaw: a fixed 16-bucket count caps
    packing parallelism forever (corpus/16 rows per single-task window
    sort at 100 TB). The bucket count must grow with the input so no
    bucket exceeds ~target_rows_per_bucket rows, while a small input keeps
    the PACK_MIN_BUCKETS floor (oracle output unchanged at sf0.01)."""
    from docling_rag_spark.operators.training_set import (
        PACK_MIN_BUCKETS,
        pack_chunks,
    )

    n, target = 2000, 50
    chunks = spark.range(n).selectExpr(
        "md5(concat('chunk-', id)) as id",
        "concat('doc-', cast(id % 400 as string)) as doc_id",
        "cast(id / 400 as int) as chunk_index",
        "cast(id % 97 + 1 as int) as n_tokens",
    )
    packed = pack_chunks(chunks, target_rows_per_bucket=target)
    per_bucket = {
        r["bucket"]: r["cnt"]
        for r in packed.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    # ceil(2000/50) = 40 buckets > the 16 floor; md5 spreads uniformly so
    # no bucket holds more than ~2x the target (hash variance bound)
    expected_buckets = -(-n // target)
    assert expected_buckets > PACK_MIN_BUCKETS
    assert len(per_bucket) > PACK_MIN_BUCKETS
    assert max(per_bucket.values()) <= 2 * target
    # the floor path: a tiny input still gets PACK_MIN_BUCKETS-modular ids
    tiny = pack_chunks(chunks.limit(10))
    assert all(r["bucket"] < PACK_MIN_BUCKETS for r in tiny.collect())
    # pinning n_buckets explicitly reproduces the derived bucketing
    pinned = pack_chunks(chunks, n_buckets=expected_buckets)
    assert sorted(map(tuple, packed.collect())) == sorted(
        map(tuple, pinned.collect())
    )


def test_span_boilerplate_plan_hash_only_shuffles(spark):
    """Corpus-level span boilerplate must shuffle only the 16-byte text
    digest (groupBy + join-back), never a cartesian and never a collect_set
    window (which would build a d-sized set per row for a d-doc footer)."""
    from docling_rag_spark.operators.extraction_queries import (
        span_boilerplate_q,
    )

    plan = _formatted_plan(span_boilerplate_q(spark, SF))
    assert "CartesianProduct" not in plan
    assert "collect_set" not in plan
    assert "Window" not in plan


def test_span_intra_dedup_plan_single_shared_shuffle(spark):
    """Intra-doc repetition removal must join on (doc_id, digest) ONLY —
    the keep-first predicate stays a residual `order <= min_order`
    condition, never a third equi-key (which would re-partition both
    sides on three keys once the min table outgrows broadcast). One hash
    exchange (the groupBy, reused by the join), no Window, no cartesian."""
    import re

    from docling_rag_spark.operators.extraction_queries import (
        span_intra_dedup_q,
    )

    plan = _formatted_plan(span_intra_dedup_q(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert not re.findall(r"\bWindow \[", plan)
    # no join carries order/min_order as an equi-key
    for line in plan.splitlines():
        if "Join [" in line:
            keys = line.split("Join [", 1)[1].split("]", 1)[0]
            assert "order" not in keys, line


def test_doc_keywords_plan_topk_pruned_mapside(spark):
    """TF-IDF keywords: the per-doc top-K must be WindowGroupLimit-pruned
    map-side before the doc_id exchange (partial top-k per partition), and
    the corpus-size side joins as a bounded single-row broadcast. The df
    side must be a groupBy+join-back on term — NEVER a count-over-window
    partitioned by term (a window partition is one task per key, so a hot
    term like "the" would be a corpus-linear straggler); the only Window
    node allowed in the plan is the per-doc top-k ranking."""
    import re

    from docling_rag_spark.operators.textstats import doc_keywords

    plan = _formatted_plan(doc_keywords(spark, SF))
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "CartesianProduct" not in plan
    window_nodes = re.findall(r"\bWindow \[", plan)
    assert len(window_nodes) == 1, plan
    assert "windowspecdefinition(term" not in plan.lower()


def test_mixture_sample_plan_no_exchange(spark):
    """Rate-based domain mixture is a pure filter: NO exchange of any kind
    in the plan (the quota-based stratified_sample pays a per-stratum
    shuffle; this is its shuffle-free complement)."""
    from docling_rag_spark.operators.training_set import mixture_sample

    plan = _formatted_plan(mixture_sample(spark, SF))
    assert "Exchange" not in plan


def test_ancestor_prefix_join_is_equi_join(spark):
    """J4/J5 shape: the LIKE-prefix theta join is rewritten as ancestor
    explode + broadcast equi-join — no nested-loop/cartesian anywhere."""
    from docling_rag_spark.operators.visibility import ancestor_prefix_grants

    plan = _formatted_plan(ancestor_prefix_grants(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_incremental_plan_batch_keyed_no_pairs(spark):
    """Incremental (batch-vs-corpus) dedup: the only join of sig rows is
    the (band, sig) equi-join between the batch and corpus sides — never a
    cartesian/nested-loop, never a Window over a content key, and no join
    carries doc_id as an equi-key (that would break the bucket semantics:
    matches are by signature, ids only aggregate)."""
    import re

    from docling_rag_spark.operators.dedup import incremental_dedup

    df = incremental_dedup(spark, SF)
    plan = _formatted_plan(df)
    df.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not re.findall(r"\bWindow \[", plan)
    for line in plan.splitlines():
        if "Join [" in line and "band" in line:
            keys = line.split("Join [", 1)[1].split("]", 1)[0]
            assert "doc_id" not in keys, line


def test_dedup_semantic_plan_cell_equi_join(spark):
    """SemDeDup: the within-cluster pair search must be an EQUI-join on
    cell (AQE-skew-splittable; the threshold + keep-priority predicates
    stay residual conditions), with the only broadcast being the K-row
    centroid table — no cartesian, no nested loop over vectors."""
    from docling_rag_spark.operators.similarity import semantic_dedup

    df = semantic_dedup(spark, SF)
    plan = _formatted_plan(df)
    df.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the semi-join pairs on cell as an equi-key somewhere in the plan
    assert any(
        "Join [" in line and "cell" in line.split("Join [", 1)[1].split("]", 1)[0]
        for line in plan.splitlines()
        if "Join [" in line
    ), plan


def test_decontaminate_frac_plan_no_window_no_pairs(spark):
    """Per-doc contamination fraction: denominator and hit-count are both
    map-combined groupBys off ONE cached digest pass — no Window over the
    gram key, no cartesian, and the gram join carries only the 16-byte
    digest (g), never doc_id, as an equi-key."""
    import re

    from docling_rag_spark.operators.training_set import decontaminate_frac

    df = decontaminate_frac(spark, SF)
    plan = _formatted_plan(df)
    df.unpersist()
    assert "CartesianProduct" not in plan
    assert not re.findall(r"\bWindow \[", plan)
    for line in plan.splitlines():
        if "Join [" in line:
            keys = line.split("Join [", 1)[1].split("]", 1)[0]
            if "g#" in keys:
                assert "doc_id" not in keys, line


def test_temperature_sample_plan_pruned_no_window(spark):
    """α-temperature rebalancing: rates are tiny aggregates joined back —
    no Window, no cartesian over doc rows, and the doc-side scan is pruned
    to exactly (doc_id, lang) (the text column never leaves the parquet
    reader for a pure sampling decision)."""
    import re

    from docling_rag_spark.operators.training_set import temperature_sample

    df = temperature_sample(spark, SF)
    plan = _formatted_plan(df)
    df.unpersist()
    assert "CartesianProduct" not in plan
    assert not re.findall(r"\bWindow \[", plan)
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_quality_classifier_plan_pure_projection(spark):
    """The learned-quality-filter stand-in must be a single codegen
    projection over the scan — NO Exchange of any kind (per-row scoring
    cannot justify a shuffle), scan pruned to (doc_id, text)."""
    from docling_rag_spark.operators.textstats import quality_classifier

    plan = _formatted_plan(quality_classifier(spark, SF))
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_lm_perplexity_plan_no_window_model_joined_not_forced(spark):
    """CCNet-style perplexity scoring: the model lookup must be equi-JOINs
    on the bigram/context keys (AQE-skew-splittable for hot contexts like
    'the'), never a Window over a token key; no cartesian over doc rows
    (the only nested-loop allowed is the single-row vocab broadcast); and
    the model sides carry no forced broadcast — vocab grows with the
    corpus, so the choice belongs to AQE (module policy). Source-level
    pin: the only F.broadcast in the shared _lm_scored_frame core is on
    the single-row vocab aggregate."""
    import ast
    import inspect
    import re

    from docling_rag_spark.operators import textstats
    from docling_rag_spark.operators.textstats import lm_perplexity

    plan = _formatted_plan(lm_perplexity(spark, SF))
    assert "CartesianProduct" not in plan
    assert not re.findall(r"\bWindow \[", plan)
    # one BroadcastNestedLoopJoin max: the single-row vocab cross join
    assert plan.count("BroadcastNestedLoopJoin") <= 1

    src = inspect.getsource(textstats)
    tree = ast.parse(src)
    fn = next(
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_lm_scored_frame"
    )
    calls = [
        n
        for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "broadcast"
    ]
    assert len(calls) == 1  # the vocab single-row aggregate only


def test_lm_perplexity_reference_slice_scores_lower(spark):
    """Sanity the semantics, not just the SQL parity: reference-slice docs
    are in-model by construction, so their median smoothed NLL must sit at
    or below the out-of-slice median, and both keep outcomes must appear
    under the pinned threshold."""
    import statistics

    from docling_rag_spark.operators.textstats import LM_REF_MOD, lm_perplexity

    rows = lm_perplexity(spark, SF).collect()
    ref = [r["nll"] for r in rows if r["doc_id"] % LM_REF_MOD == 0 and r["nll"]]
    rest = [r["nll"] for r in rows if r["doc_id"] % LM_REF_MOD != 0 and r["nll"]]
    assert ref and rest
    assert statistics.median(ref) <= statistics.median(rest)
    keeps = {r["keep"] for r in rows}
    assert keeps == {True, False}


def test_decontaminate_bloom_no_false_negatives(spark):
    """The Bloom audit may over-flag (false positives are the Bloom trade)
    but must NEVER under-flag: every distinct gram the exact join reports
    as shared is bloom-positive by construction, so per doc
    n_flagged >= the exact n_shared_grams, and no exactly-contaminated doc
    may be absent from the bloom output."""
    from docling_rag_spark.operators.training_set import (
        decontaminate,
        decontaminate_bloom,
    )

    exact = {r["doc_id"]: r["n_shared_grams"] for r in decontaminate(spark, SF).collect()}
    bloom = {r["doc_id"]: r["n_flagged"] for r in decontaminate_bloom(spark, SF).collect()}
    assert exact, "fixture must contain at least one contaminated doc"
    for doc, n_exact in exact.items():
        assert bloom.get(doc, 0) >= n_exact, (doc, n_exact, bloom.get(doc))


def test_decontaminate_bloom_plan_probe_never_shuffles_grams(spark):
    """The scale contract of the Bloom path: the bitmap is a FIXED-size
    build side (<= BLOOM_WORDS rows regardless of corpus or eval size), so
    under AQE every probe join converges to broadcast (0 sort-merge joins)
    and the training grams flow scan->probe->per-doc agg without ever
    being exchanged on a gram key: every hashpartitioning in the final
    plan keys on doc_id (final agg / doc-universe join) or word (bitmap
    build) — never on the gram hash h."""
    import re

    from docling_rag_spark.operators.training_set import (
        BLOOM_K,
        decontaminate_bloom,
    )

    df = decontaminate_bloom(spark, SF)
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= BLOOM_K
    keys = set(re.findall(r"hashpartitioning\((\w+)#", plan))
    assert keys <= {"doc_id", "word"}, keys


def test_token_budget_select_matches_greedy_prefix(spark):
    """Independent reimplementation: per source, sort docs by the operator's
    priority (sb desc, jb desc, md5 tie-break desc) and greedily take while
    the tokens of strictly-prior docs stay under the budget. The
    histogram-threshold + boundary-cell plan must select EXACTLY that set,
    and the budget must actually bind (some docs dropped per source)."""
    import hashlib
    import math

    from docling_rag_spark.operators.training_set import (
        TBS_BUDGET,
        TBS_SCORE_BUCKETS,
        TBS_SEED,
        token_budget_select,
    )
    from docling_rag_spark.operators.textstats import quality_classifier

    got = token_budget_select(spark, SF).toPandas()
    docs = spark.read.parquet(SF + "/documents.parquet").toPandas()
    prob = quality_classifier(spark, SF).toPandas().set_index("doc_id")[
        "quality_prob"
    ]
    toks = dict(zip(got.doc_id, got.n_tokens))
    # n_tokens for docs the operator dropped: recompute via the same split
    all_toks = {
        r.doc_id: len([t for t in str(r.text).strip().split() if t])
        for r in docs.itertuples()
    }
    expected = set()
    for src, grp in docs.groupby("source"):
        rows = []
        for r in grp.itertuples():
            h = hashlib.md5(f"{TBS_SEED}|{r.doc_id}".encode()).hexdigest()
            sb = math.floor(prob[r.doc_id] * TBS_SCORE_BUCKETS)
            rows.append((sb, int(h[:2], 16), h, r.doc_id))
        rows.sort(reverse=True)
        cum = 0
        for sb, jb, h, doc_id in rows:
            if cum < TBS_BUDGET:
                expected.add(doc_id)
            cum += all_toks[doc_id]
    assert set(got.doc_id) == expected
    assert 0 < len(expected) < len(docs), "budget must bind at fixture scale"
    for doc_id, n in toks.items():
        assert all_toks[doc_id] == n


def test_token_budget_select_plan_windows_are_bounded(spark):
    """Scale contract: NO window ever partitions doc rows by source alone
    (a domain in one sort task — the doc_keywords lesson). Every window in
    the plan is either the histogram cumsum — source-partitioned but over
    the bounded (source, sb, jb) AGGREGATE (sums tb, never doc rows; it
    appears once per union branch) — or the boundary intra-cell window
    partitioned by the full cell key."""
    import re

    from docling_rag_spark.operators.training_set import token_budget_select

    plan = _formatted_plan(token_budget_select(spark, SF))
    # Window node prints as: Window [funcs], [partition], [order]
    wins = re.findall(r"Window (\[[^\n]*)", plan)
    assert wins, plan
    for w in wins:
        funcs, part = re.findall(r"\[([^\]]*)\]", w)[:2]
        part_cols = [c.split("#")[0] for c in part.split(", ") if c]
        if part_cols == ["source"]:
            # source-alone partition is ONLY legal over the bounded
            # histogram (sums tb, the per-cell aggregate) — never doc rows
            assert "sum(tb#" in funcs, w
        else:
            # the exact boundary resolution partitions by the full cell key
            assert part_cols == ["source", "sb", "jb"], w
            assert "sum(n_tokens#" in funcs, w
    assert "CartesianProduct" not in plan


def test_diversify_prototypes_plan_one_exchange_shared_window(spark):
    """SSL-prototypes pruning: rank and cell population must ride ONE hash
    exchange on cell (two Window operators over the same bounded-partition
    key — never a second scan or a join-back for the count), the only
    broadcast is the K-row centroid table, and no cartesian/SMJ anywhere."""
    from docling_rag_spark.operators.similarity import diversify_prototypes

    plan = _formatted_plan(diversify_prototypes(spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, plan
    assert "cell#" in hash_exchanges[0]
    # two window operators (row_number + count), both partitioned by cell
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert len(win_lines) == 2, plan
    for ln in win_lines:
        assert "cell#" in ln.split("], [", 1)[1], ln


def test_diversify_prototypes_drops_exact_fraction_per_cell(spark):
    """Semantics, not just SQL parity: each cell drops exactly
    floor(PROTO_DROP_FRAC * |cell|) members, and every dropped member is
    at least as centroid-similar as every kept member of its cell (ties
    resolved by vec_id, lower drops first)."""
    import math
    from collections import defaultdict

    from docling_rag_spark.operators.similarity import (
        PROTO_DROP_FRAC,
        diversify_prototypes,
    )

    rows = diversify_prototypes(spark, SF).collect()
    assert rows
    cells = defaultdict(list)
    for r in rows:
        cells[r["cell"]].append(r)
    assert any(not r["keep"] for r in rows)  # the fraction actually bites
    for cell, members in cells.items():
        dropped = sorted(
            (r for r in members if not r["keep"]),
            key=lambda r: (-r["centroid_sim"], r["vec_id"]),
        )
        kept = [r for r in members if r["keep"]]
        assert len(dropped) == math.floor(PROTO_DROP_FRAC * len(members))
        if dropped and kept:
            worst_dropped = min(r["centroid_sim"] for r in dropped)
            best_kept = max(r["centroid_sim"] for r in kept)
            assert worst_dropped >= best_kept


def test_dsir_select_plan_reused_exchange_one_corpus_pass(spark):
    """DSIR: raw and target bucket counts come from ONE aggregation
    (conditional sum, not a filter), so the FINAL adaptive plan must serve
    the model build and the scoring side from the SAME corpus shuffle —
    assert a ReusedExchange/reused stage is present, the weight join is a
    broadcast (structurally bounded at DSIR_BUCKETS rows), and training
    rows never sort-merge on the feature key b."""
    from docling_rag_spark.operators.training_set import dsir_select

    df = dsir_select(spark, SF)
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line and "[b#" in line:
            raise AssertionError(f"feature key must broadcast, not SMJ: {line}")


def test_dsir_select_target_slice_scores_higher(spark):
    """Semantics: the target slice defines the numerator LM, so its docs
    must keep at a strictly higher rate than out-of-slice docs, both keep
    outcomes must occur, and <2-token docs survive with n_feats=0 and a
    NULL score (never silently dropped)."""
    from docling_rag_spark.operators.training_set import (
        DSIR_TARGET_MOD,
        dsir_select,
    )

    rows = dsir_select(spark, SF).collect()
    assert rows
    t = [r for r in rows if r["doc_id"] % DSIR_TARGET_MOD == 0]
    o = [r for r in rows if r["doc_id"] % DSIR_TARGET_MOD != 0]
    assert t and o
    t_rate = sum(r["keep"] for r in t) / len(t)
    o_rate = sum(r["keep"] for r in o) / len(o)
    assert t_rate > o_rate
    assert {r["keep"] for r in rows} == {True, False}
    for r in rows:
        if r["n_feats"] == 0:
            assert r["score"] is None and not r["keep"]


def test_ccnet_buckets_plan_reuses_lm_shuffle_no_lang_smj(spark):
    """CCNet bucketing consumes the lm scorer from TWO branches (the doc
    side and the tertile histogram). The branches are written to prune
    identically (no differing filter pushdown — NULL qb rides the
    histogram as a zero-count group, not a filter), so the FINAL adaptive
    plan must serve both from the SAME corpus bigram shuffle: assert a
    ReusedExchange in the final plan. The threshold join key `lang` is
    low-cardinality AND skewed — doc rows must never sort-merge on it
    (broadcast only; windows here run only over the clamped histogram,
    ≤ langs × CCNET_QB_MAX+1 cells, never over doc rows)."""
    import re

    from docling_rag_spark.operators.textstats import ccnet_buckets

    df = ccnet_buckets(spark, SF)
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    # the precise reuse claim: a ReusedExchange pointing at the corpus
    # bigram shuffle (hashpartitioning on (doc_id, w1, w2))
    assert re.search(
        r"ReusedExchange .*hashpartitioning\(doc_id#\d+L, w1#", plan
    ), plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line and "[lang#" in line:
            raise AssertionError(f"lang must broadcast, not SMJ: {line}")


def test_ccnet_buckets_tertile_semantics(spark):
    """Per language: buckets are nll-ordered at cell granularity (every
    head nll < every middle nll < every tail nll — equal nll values share
    a cell so they can never straddle buckets), the head holds at least a
    third of the scored mass and head+middle at least two thirds (the
    3·cum ≥ n threshold rule), every bucket is non-empty at this SF, and
    a NULL bucket appears iff the doc has a NULL nll (<2 tokens — kept,
    never dropped)."""
    from collections import defaultdict

    from docling_rag_spark.operators.textstats import ccnet_buckets

    rows = ccnet_buckets(spark, SF).collect()
    assert rows
    by_lang = defaultdict(lambda: defaultdict(list))
    for r in rows:
        assert (r["bucket"] is None) == (r["nll"] is None)
        if r["bucket"] is not None:
            by_lang[r["lang"]][r["bucket"]].append(r["nll"])
    assert by_lang
    for lang, b in by_lang.items():
        n = sum(len(v) for v in b.values())
        assert set(b) == {"head", "middle", "tail"}, (lang, set(b))
        assert 3 * len(b["head"]) >= n
        assert 3 * (len(b["head"]) + len(b["middle"])) >= 2 * n
        assert max(b["head"]) < min(b["middle"])
        assert max(b["middle"]) < min(b["tail"])


def test_unimax_budget_waterfill_semantics(spark):
    """UniMax invariants at this SF: per-language epochs is a constant;
    capped ⇔ epochs == UNIMAX_EPOCHS (a capped language takes exactly its
    full E-pass supply); BOTH branches of the waterfill occur (the
    constants are tuned so the smallest languages cap and the largest
    cannot); every uncapped language receives the SAME absolute token
    allocation (uniform fair share — the paper's defining property, vs
    temperature sampling's proportional shares); the allocations exhaust
    the budget (Σ epochs·n == UNIMAX_BUDGET_FRAC·total); and n_copies is
    the unbiased integerization floor(epochs) (+1 on the jitter hit)."""
    from collections import defaultdict

    from docling_rag_spark.operators.training_set import (
        UNIMAX_BUDGET_FRAC,
        UNIMAX_EPOCHS,
        unimax_budget,
    )

    rows = unimax_budget(spark, SF).collect()
    assert rows
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    capped_flags = {}
    allocs = {}
    supplies = {}
    total = 0
    for lang, rs in by_lang.items():
        eps = {r["epochs"] for r in rs}
        assert len(eps) == 1, (lang, eps)
        ep = eps.pop()
        assert ep <= UNIMAX_EPOCHS + 1e-9
        capped = {r["capped"] for r in rs}
        assert len(capped) == 1
        capped_flags[lang] = capped.pop()
        if capped_flags[lang]:
            # alloc == cap == E·n exactly ⇒ epochs is exactly E
            assert ep == UNIMAX_EPOCHS, lang
        n = sum(r["n_tok"] for r in rs)
        supplies[lang] = n
        allocs[lang] = ep * n
        total += n
    assert any(capped_flags.values()) and not all(capped_flags.values())
    # n_copies = floor(UNROUNDED alloc/n) (+1 on jitter) — recompute the
    # unrounded ratio from first principles rather than trusting the
    # 6-decimal epochs column near an integer boundary
    import math

    budget_exact = UNIMAX_BUDGET_FRAC * total
    bcap = sum(
        UNIMAX_EPOCHS * supplies[g] for g in supplies if capped_flags[g]
    )
    n_uncapped = sum(1 for g in supplies if not capped_flags[g])
    share = (budget_exact - bcap) / n_uncapped
    for lang, rs in by_lang.items():
        ep_est = (
            UNIMAX_EPOCHS
            if capped_flags[lang]
            else share / supplies[lang]
        )
        lo = math.floor(ep_est - 1e-9)
        hi = math.floor(ep_est + 1e-9) + 1
        for r in rs:
            assert lo <= r["n_copies"] <= hi, (lang, ep_est, r)
    uncapped = [a for lang, a in allocs.items() if not capped_flags[lang]]
    assert len(uncapped) >= 1
    # uniform fair share across uncapped languages (tolerance: the rounded
    # epochs column re-multiplied by n)
    assert max(uncapped) - min(uncapped) <= 1e-4 * max(uncapped)
    budget = UNIMAX_BUDGET_FRAC * total
    assert abs(sum(allocs.values()) - budget) <= 1e-4 * budget


def test_unimax_budget_plan_doc_rows_never_shuffle(spark):
    """The scale contract: the ONLY exchanges in the final plan are the
    lang-aggregate hash shuffle and the single-partition window frame —
    doc rows never hash-partition (no Exchange keyed on doc_id, and the
    ≤L-row allocation side broadcasts back onto the corpus: `lang` is the
    worst shuffle key — low-cardinality AND skewed — so an SMJ on it
    would funnel every language into one task)."""
    from docling_rag_spark.operators.training_set import unimax_budget

    df = unimax_budget(spark, SF)
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id#" not in line.split("Exchange", 1)[1].split(
                "["
            )[0], line
            assert "lang#" in line, line
        if "SortMergeJoin" in line and "[lang#" in line:
            raise AssertionError(f"lang must broadcast, not SMJ: {line}")


def test_corpus_datacard_semantics(spark):
    """The card's cells partition the corpus exactly (Σ n_docs == corpus
    size), the dup accounting agrees with the exact_dedup operator
    (Σ dup_docs == Σ n_copies over dup groups — a doc counts as dup when
    its text's corpus-wide digest count exceeds 1, wherever its copies
    live), mean_quality is a probability mean, and mean_tokens·n_docs
    reproduces total_tokens within rounding."""
    from docling_rag_spark.operators.dedup import exact_dedup
    from docling_rag_spark.operators.textstats import corpus_datacard

    rows = corpus_datacard(spark, SF).collect()
    assert rows
    n_total = sum(r["n_docs"] for r in rows)
    docs_n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert n_total == docs_n
    dup_total = sum(r["dup_docs"] for r in rows)
    exact = exact_dedup(spark, SF).collect()
    assert dup_total == sum(e["n_copies"] for e in exact if e["n_copies"] > 1)
    for r in rows:
        assert 0.0 < r["mean_quality"] < 1.0
        assert 0.0 <= r["dup_rate"] <= 1.0
        assert abs(r["mean_tokens"] * r["n_docs"] - r["total_tokens"]) <= (
            0.005 * r["n_docs"] + 1e-6
        )


def test_corpus_datacard_plan_no_window_one_corpus_shuffle(spark):
    """Scale contract: NO Window anywhere (the digest-size link-back is a
    groupBy + equi-join — an empty-text mega-dup group must stay
    AQE-splittable, never a digest-partitioned window task), and every
    hash Exchange is keyed on the digest or the bounded (source, lang)
    cell space — doc rows shuffle once, into the (h, source, lang)
    pre-aggregate."""
    from docling_rag_spark.operators.textstats import corpus_datacard

    df = corpus_datacard(spark, SF)
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert "Window" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            keys = line.split("Exchange hashpartitioning", 1)[1]
            assert "h#" in keys or ("source#" in keys and "lang#" in keys), (
                line
            )
            assert "doc_id#" not in keys, line


def test_corpus_datacard_planted_cross_cell_dups(spark):
    """A duplicate GROUP that spans (source, lang) cells must count as dup
    in EVERY cell it touches (the digest pre-aggregate keeps per-cell
    membership; the corpus-wide size decides dup-ness): plant one text
    duplicated across two sources and two langs (4 docs → 4 dup docs in 4
    distinct cells), one within-cell pair (2 dup docs in one cell), and a
    unique doc (0)."""
    from docling_rag_spark.operators.textstats import datacard_frame

    rows = datacard_frame(
        spark.createDataFrame(
            [
                ("a", "en", "the same boilerplate text"),
                ("a", "de", "the same boilerplate text"),
                ("b", "en", "the same boilerplate text"),
                ("b", "de", "the same boilerplate text"),
                ("a", "en", "twice in one cell"),
                ("a", "en", "twice in one cell"),
                ("b", "en", "a unique document"),
            ],
            "source string, lang string, text string",
        )
    ).collect()
    by_cell = {(r["source"], r["lang"]): r for r in rows}
    assert by_cell[("a", "de")]["dup_docs"] == 1
    assert by_cell[("b", "de")]["dup_docs"] == 1
    assert by_cell[("b", "en")]["dup_docs"] == 1
    assert by_cell[("b", "en")]["n_docs"] == 2
    assert by_cell[("b", "en")]["dup_rate"] == 0.5
    # (a, en): the cross-cell copy + the within-cell pair = 3 of 3
    assert by_cell[("a", "en")]["n_docs"] == 3
    assert by_cell[("a", "en")]["dup_docs"] == 3
    assert by_cell[("a", "en")]["dup_rate"] == 1.0
    assert sum(r["dup_docs"] for r in rows) == 6


def test_ccnet_buckets_sub_two_token_doc_gets_null_bucket(spark, tmp_path):
    """Regression (self-review round 6): greatest/least SKIP nulls in both
    engines, so an unguarded clamp sent a NULL-nll (<2-token) doc to
    histogram cell 0 — polluting its language's tertile thresholds and
    mis-bucketing the doc 'head'. The guard must keep the contract: bucket
    is NULL iff nll is NULL, and the doc never inflates the scored mass."""
    from docling_rag_spark.operators.textstats import ccnet_buckets

    rows = [
        (i, " ".join(f"w{j % 7}" for j in range(i % 11 + 2)), "en", "s0", 10)
        for i in range(40)
    ] + [(100, "solo", "en", "s0", 4)]  # 1 token -> no bigram -> NULL nll
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r for r in ccnet_buckets(spark, str(tmp_path)).collect()}
    assert got[100]["nll"] is None and got[100]["bucket"] is None
    scored = [r for r in got.values() if r["nll"] is not None]
    assert len(scored) == 40
    for r in scored:
        assert r["bucket"] in ("head", "middle", "tail")


def test_unimax_budget_zero_supply_language(spark, tmp_path):
    """Regression (self-review round 6): a language whose docs are all
    empty text has supply n = 0 — the unguarded alloc/n threw
    DIVIDE_BY_ZERO under ANSI mode. Defined semantics: the language caps
    trivially (cap = 0 absorbs nothing), epochs is NULL, n_copies 0; the
    real languages still waterfill the full budget."""
    from docling_rag_spark.operators.training_set import unimax_budget

    rows = (
        [(i, "", "xx", "s0", 0) for i in range(3)]
        + [(10 + i, "one two three four five", "en", "s0", 23) for i in range(6)]
        + [(20 + i, "uno dos tres", "es", "s0", 12) for i in range(2)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = unimax_budget(spark, str(tmp_path)).collect()
    xx = [r for r in got if r["lang"] == "xx"]
    assert len(xx) == 3
    for r in xx:
        assert r["capped"] is True
        assert r["epochs"] is None
        assert r["n_copies"] == 0
    others = [r for r in got if r["lang"] != "xx"]
    assert others and all(r["epochs"] is not None for r in others)


def test_corpus_datacard_null_text_docs_counted(spark):
    """Regression (self-review round 6): NULL-text docs carry a NULL
    digest, and a plain equi-join link-back dropped the whole NULL group
    from the card. They must be counted — and two NULL-text docs ARE an
    exact-dup pair (groupBy groups NULL keys in both engines, matching
    exact_dedup's accounting)."""
    from docling_rag_spark.operators.textstats import datacard_frame

    rows = datacard_frame(
        spark.createDataFrame(
            [
                ("a", "en", None),
                ("a", "en", None),
                ("a", "en", "a real document"),
                ("b", "en", None),
            ],
            "source string, lang string, text string",
        )
    ).collect()
    by_cell = {(r["source"], r["lang"]): r for r in rows}
    assert by_cell[("a", "en")]["n_docs"] == 3
    # the three NULL-text docs form ONE corpus-wide dup group across cells
    assert by_cell[("a", "en")]["dup_docs"] == 2
    assert by_cell[("b", "en")]["n_docs"] == 1
    assert by_cell[("b", "en")]["dup_docs"] == 1


def test_doc_attributes_and_mixer_plans_zero_exchange(spark):
    """The tagger family and the mixer are pure whole-stage-codegen
    projections — NO Exchange, no Join, no Window: every expensive
    expression (tokenize, ratios, logit, langid argmax) evaluates exactly
    once per doc in the scan stage. (The persisted-table mixer path is
    the same projection over the attributes parquet —
    tests/test_attributes_job.py drives it.)"""
    from docling_rag_spark.operators.attributes import (
        attribute_mixer,
        doc_attributes,
    )

    for fn in (doc_attributes, attribute_mixer):
        df = fn(spark, SF)
        df.collect()
        plan = _formatted_plan(df)
        assert "Exchange" not in plan, fn.__name__
        assert "Join" not in plan, fn.__name__
        assert "Window" not in plan, fn.__name__


def test_event_percentiles_order_statistic_semantics(spark):
    """The cell rule IS an order statistic: the first cell whose
    cumulative count satisfies the integer threshold contains the
    ceil(p·n)-th smallest value, so each reported percentile must equal
    floor(that value × Q)/Q exactly — cross-checked against a driver-side
    sort per event type."""
    import math

    from docling_rag_spark.operators.temporal import (
        PCTL_Q,
        PCTL_QB_MAX,
        PCTL_QB_MIN,
        event_value_percentiles,
    )

    got = {
        r["event_type"]: r
        for r in event_value_percentiles(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_type = {}
    for e in ev:
        if e["value"] is not None:
            by_type.setdefault(e["event_type"], []).append(e["value"])
    assert set(got) >= set(by_type)
    for t, vals in by_type.items():
        vals.sort()
        n = len(vals)
        assert got[t]["n_values"] == n
        for p, col in ((1, "p50"), (19, "p95"), (99, "p99")):
            den = {1: 2, 19: 20, 99: 100}[p]
            k = math.ceil(p * n / den)
            cell = min(
                max(math.floor(vals[k - 1] * PCTL_Q), PCTL_QB_MIN),
                PCTL_QB_MAX,
            )
            want = cell / PCTL_Q
            assert got[t][col] == want, (t, col, got[t][col], want)


def test_event_percentiles_plan_bounded_windows_only(spark):
    """No exact-percentile buffer, no value-keyed shuffle: every hash
    Exchange is keyed on the histogram cell space or the event_type
    rollup — the per-group state is the clamped histogram, never the
    values themselves."""
    from docling_rag_spark.operators.temporal import event_value_percentiles

    df = event_value_percentiles(spark, SF)
    df.collect()
    plan = _formatted_plan(df)
    assert "isFinalPlan=true" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "event_type#" in line, line


def test_bpe_merges_matches_pure_python_reference(spark):
    """Live lockstep: the DEFAULT bpe_merges path must reproduce the
    single-process reference (kernels/bpe_ref.py) row-for-row on the real
    corpus — the same reference that generates the committed golden, so
    operator ≡ golden ≡ reference stays transitive. Since the round-7
    driver-local cutover, the default path at this scale collects the
    word table and runs the reference merges itself, so the independent
    signal HERE is the Spark tokenize/word-freq front half; the
    DISTRIBUTED merge loop is pinned on the same real corpus by
    test_bpe_driver_local_cutover_equals_distributed (local ≡ forced
    distributed) and on the overlap contract by
    test_bpe_merge_fold_non_overlapping (driver_vocab_max=0)."""
    from docling_rag_spark.kernels.bpe_ref import (
        bpe_merges_reference,
        word_freqs,
    )
    from docling_rag_spark.operators.bpe import bpe_merges

    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_merges(spark, SF).orderBy("step").collect()
    ]
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    want = bpe_merges_reference(word_freqs([d["text"] for d in docs]))
    assert got == want
    assert len(got) == 8


def test_bpe_merge_fold_non_overlapping(spark):
    """Pin the overlap contract on both engines' shared spec: merging
    (a, a) in 'aaaa' consumes pairs LEFT-TO-RIGHT NON-OVERLAPPING — the
    count is 3 (all adjacent occurrences) but the rewrite is [aa, aa],
    and 'aaa' becomes [aa, a], never [a, aa]."""
    from docling_rag_spark.kernels.bpe_ref import (
        _merge_seq,
        bpe_merges_reference,
    )
    from docling_rag_spark.operators.bpe import bpe_merges_frame

    assert _merge_seq(list("aaa"), "a", "a") == ["aa", "a"]
    assert _merge_seq(list("aaaa"), "a", "a") == ["aa", "aa"]

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaaa")], "doc_id long, text string"
    )
    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        # driver_vocab_max=0 forces the DISTRIBUTED merge loop — this test
        # pins the Spark-side carry fold, not the local reference
        for r in bpe_merges_frame(docs, k=3, driver_vocab_max=0)
        .orderBy("step")
        .collect()
    ]
    want = bpe_merges_reference({"aaaa": 2}, k=3)
    assert got == want
    assert got[0] == (1, "a", "a", "aa", 6)       # 3 adjacent pairs x 2 docs
    assert got[1] == (2, "aa", "aa", "aaaa", 2)   # non-overlap: [aa, aa]
    assert len(got) == 2                          # then no pairs remain


def test_bpe_driver_local_cutover_equals_distributed(spark):
    """Round-7 optimization contract: the driver-local finish (word table
    ≤ BPE_DRIVER_VOCAB_MAX collected once, merges run by the frozen-spec
    pure-Python reference) must be row-identical to the distributed merge
    loop on the same corpus — the two paths are one algorithm."""
    from docling_rag_spark.operators.bpe import bpe_merges_frame

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def rows(df):
        return [
            (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
            for r in df.orderBy("step").collect()
        ]

    local = rows(bpe_merges_frame(docs))              # vocab fits → local
    dist = rows(bpe_merges_frame(docs, driver_vocab_max=0))
    assert local == dist and len(local) == 8


def test_event_percentiles_negative_and_saturating_values(spark):
    """Regression (self-review round 6): the clamp floor was 0, so an
    all-negative group reported p50 = 0.0 — unbounded error. The window
    is now symmetric and SATURATING (HDR-histogram convention): in-window
    negatives are exact to the cell, beyond-window values read exactly
    the boundary (±1000.0), never a silently-wrong interior value."""
    from docling_rag_spark.operators.temporal import value_percentiles_frame

    rows = [("refund", -5.0 - i / 100.0) for i in range(10)]
    rows += [("huge", 5000.0), ("huge", 6000.0), ("huge", -4000.0)]
    got = {
        r["event_type"]: r
        for r in value_percentiles_frame(
            spark.createDataFrame(rows, "event_type string, value double")
        ).collect()
    }
    # refund values are -5.00 .. -5.09; p50 = ceil(10/2)=5th smallest
    assert got["refund"]["n_values"] == 10
    assert got["refund"]["p50"] == -5.05
    assert got["refund"]["p99"] == -5.0
    # saturation: beyond-window values pin to the boundary cells
    assert got["huge"]["p50"] == 1000.0
    assert got["huge"]["p99"] == 1000.0


def test_detect_language_null_and_empty_text_cross_engine(spark):
    """Regression (self-review round 6): the langid fold rewrite returned
    NULL for NULL text (F.aggregate over a NULL array) while the DuckDB
    mirror and the kernel spec return 'en'. Pin all three fallback cases
    against the SQL mirror directly."""
    import duckdb

    from docling_rag_spark.functions import duckdb_sql as dsql
    from docling_rag_spark.functions.text import detect_language_col

    texts = [None, "", "zzz qqq", "el perro de la casa que los gatos"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = {
        r["i"]: r["lang"]
        for r in df.select(
            "i", detect_language_col(F.col("text")).alias("lang")
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "t",
        __import__("pandas").DataFrame(
            {"i": range(len(texts)), "text": texts}
        ),
    )
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"select i, {dsql.detect_language_sql('text')} from t"
        ).fetchall()
    }
    con.close()
    assert got == want
    assert got[0] == "en" and got[1] == "en" and got[2] == "en"
    assert got[3] == "es"


def test_source_overlap_matrix_planted_cross_source(spark, tmp_path):
    """A near-dup pair spanning sources lands in the canonical
    (least, greatest) cell; a within-source pair lands on the diagonal;
    unrelated docs produce no cell."""
    from docling_rag_spark.operators.dedup import source_overlap_matrix

    dup = "the quick brown fox jumps over the lazy dog tonight again"
    other = "completely different words about ships and harbors at dawn"
    rows = [
        (1, dup, "en", "s1", 10),
        (2, dup, "en", "s0", 10),          # cross-source near-dup
        (3, other, "en", "s0", 10),
        (4, other, "en", "s0", 10),        # within-source near-dup
        (5, "nothing shared here at all zebra quartz", "en", "s1", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in source_overlap_matrix(spark, str(tmp_path)).collect()
    }
    assert got[("s0", "s1")] == 1
    assert got[("s0", "s0")] == 1
    assert ("s1", "s1") not in got


def test_blocklist_filter_planted_cross_engine(spark, tmp_path):
    """The driver corpus contains no blocklisted token (the oracle run
    degenerates to all-clean), so plant hits and compare Spark vs DuckDB
    row-for-row — counts, ratio, and the C4 single-hit drop rule."""
    import duckdb
    import pandas as pd

    from docling_rag_spark.operators.textstats import (
        BLOCKLIST_FILTER_SQL,
        blocklist_filter,
    )

    rows = [
        (1, "a clean document about boats", "en", "s0", 28),
        (2, "win the LOTTERY and the Casino jackpot now", "en", "s0", 42),
        (3, "xxx", "en", "s0", 3),
        (4, "", "en", "s0", 0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sorted(
        (r["doc_id"], r["n_blocked"], r["blocked_ratio"], r["keep"])
        for r in blocklist_filter(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(map(tuple, con.execute(BLOCKLIST_FILTER_SQL).fetchall()))
    con.close()
    assert got == want
    by_id = {g[0]: g for g in got}
    assert by_id[1][3] is True and by_id[1][1] == 0
    assert by_id[2][1] == 3 and by_id[2][3] is False  # lowered matching
    assert by_id[3] == (3, 1, 1.0, False)
    assert by_id[4] == (4, 0, 0.0, True)  # empty doc: ratio guard


def test_tidy_col_single_pass_equals_reference_two_pass(spark):
    """The round-7 single-regex tidy_col must equal the reference two-pass
    Catalyst form (marker/newline pass, then whitespace collapse) on
    marker/whitespace torture inputs — the Spark-side mirror of the kernel
    property test test_tidy_single_pass_equals_reference_two_pass."""
    from pyspark.sql import functions as F

    from docling_rag_spark.functions.text import tidy_col

    texts = [
        "",
        "   ",
        "a\r\nb",
        "x <!-- image --> y",
        "a<!-- image --><!-- image -->b",
        "a<!-- image\r-->b",          # marker formed only AFTER newline pass
        "<!-- image -->lead and trail<!-- image -->",
        "tab\tand\x0bvertical\ffeeds",
        "mixed \r<!-- image -->\n runs\t<!-- image --> here",
        "<!-- image-->partial<!--image -->markers",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    two_pass = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"), r"[\r\n]+|<!-- image -->", " "
            ),
            r"\s+",
            " ",
        )
    )
    bad = df.select(
        tidy_col(F.col("text")).alias("got"), two_pass.alias("want")
    ).filter("got IS DISTINCT FROM want")
    assert bad.count() == 0, bad.collect()
