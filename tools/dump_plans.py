"""Dump .explain('formatted') for the flagship operators into PLANS.md with
commentary — the plan-quality evidence (pushdown, pruning, broadcast,
TakeOrderedAndProject, codegen spans).

Only the ``## <name>`` sections this tool builds are replaced; every other
section of PLANS.md (hand-written notes on later operators) stays where it
is. Run: ``python tools/dump_plans.py``."""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

COMMENT = {
    "extract_narrow": (
        "Narrow extraction: scan → single mapInPandas (ArrowEvalPython-free, "
        "MapInPandas node), NO Exchange anywhere — the kernel also packs each "
        "document's chunks, so extraction, chunks and lineage are all "
        "shuffle-free filters of its output. The only wider stages in the "
        "full job are the sinks' key exchanges."
    ),
    "extract_spread": (
        "Spread chunks: the slice kernel (MapInPandas over reading-order "
        "slices of 64 spans) sits under ONE hash Exchange on doc_id + an "
        "in-partition Sort that puts each document's slice sentinels "
        "first, then the stitch MapInPandas renumbers the blocks and packs "
        "the chunks (greedy+heading state streams across Arrow batches); "
        "chunks are a Filter of its output and the md5 id a codegen "
        "Project above it."
    ),
    "knn_bruteforce": (
        "Vector top-k: TakeOrderedAndProject = distributed partial top-k per "
        "partition then merge — no global sort, no full shuffle. The scan "
        "reads only (vec_id, label, embedding) [ReadSchema]."
    ),
    "pricing_summary": (
        "TPC-H Q1 shape: PushedFilters on l_shipdate reach the parquet scan; "
        "partial HashAggregate before the Exchange (map-side combine) then "
        "final agg; ReadSchema prunes to the 7 needed columns."
    ),
    "range_join": (
        "Bucketed range join: both sides time-bucketed at the window width, "
        "probe side explodes to <=2 buckets, plain equi-join on (user_id, "
        "bucket) + exact range filter — no BroadcastNestedLoopJoin/Cartesian "
        "anywhere (asserted in tests)."
    ),
    "fulltext_topk_cd": (
        "Cover-density fulltext: posexplode tokens -> filter to query-term "
        "hits (tiny) -> one Exchange on doc_id serving the lag window AND "
        "the groupBy -> TakeOrderedAndProject top-k."
    ),
    "revenue_by_nation": (
        "Star join: both dims broadcast (BroadcastHashJoin ×2) — zero "
        "shuffle of the fact side until the final 1-row-per-nation agg."
    ),
    "dedup_minhash_lsh": (
        "MinHash LSH: shingle Generate is narrow; band signatures groupBy "
        "shuffles only (doc_id, band, 16-byte binary digest); the bucket self-join "
        "joins on (band, sig) — the LSH prefilter that keeps pairs ~linear."
    ),
    "resume_filter": (
        "Resume: one LeftAnti hash join against the lineage checkpoint's "
        "doc_ids, not deduplicated first (an anti join has set semantics) — "
        "with a small done-set it broadcasts; at scale it's one shuffle on "
        "doc_id."
    ),
    "dedup_simhash": (
        "SimHash (round-3 shape): the 32 per-bit counters are PARALLEL sum "
        "aggregates of one map-side-combined HashAggregate on doc_id over "
        "token rows — one Exchange carrying a 32-column row per (doc, "
        "partition); no bit-row Generate anywhere (the old plan exploded "
        "tokens ×32 into the shuffle)."
    ),
    "fulltext_topk_bm25": (
        "BM25 (zero-shuffle): per-term tf and dl are ARRAY expressions over "
        "each doc's token array — no explode, no hashpartitioning Exchange "
        "anywhere (plan-asserted); the corpus stats (N, avgdl, per-term df) "
        "are one single-row aggregate broadcast back; TakeOrderedAndProject "
        "caps the output."
    ),
    "hybrid_rrf_chunks": (
        "Chunk-granularity fusion: both arms end in TakeOrderedAndProject "
        "at 3×k before the rank windows (windows therefore see ≤75 rows — "
        "the global Window.orderBy is safe ONLY because of that prelimit), "
        "and the final rehydration is a BroadcastHashJoin of the fused ids "
        "against the chunks table."
    ),
    "decontaminate": (
        "Decontamination: the eval slice's distinct 13-grams go through "
        "BroadcastExchange; the training side is a broadcast hash join — "
        "training shingles are never shuffled at any corpus size."
    ),
    "paginate_docs": (
        "Pagination (round-4 shape): orderBy().limit(offset+page) compiles "
        "to TakeOrderedAndProject (distributed partial top-k); the "
        "row_number window runs over those <= offset+page rows only — no "
        "full-table single-partition sort."
    ),
    "knn_ivf_batch": (
        "Batch ANN (round-4): the cell-partitioned IVF index is scanned "
        "ONCE and joined via BroadcastHashJoin on cell against the tiny "
        "(qid, cell, qv) build side; per-query top-k is WindowGroupLimit-"
        "pruned map-side before the single qid Exchange. The only nested-"
        "loop join is queries × (<= 8) broadcast centroids."
    ),
    "text_gopher_filters": (
        "Gopher filters (round-4 shape): ONE documents scan, ONE tagged "
        "(n, gram) Generate; per-doc scalars ride the gram-count groupBy "
        "as constant max() aggregates and the two top-gram fractions pivot "
        "out of one (doc_id, n) window."
    ),
}


PREAMBLE = """# PLANS — physical plans of the flagship operators

`df.explain('formatted')` captures (sf0.001, local[8]); asserts in
tests/test_operators.py keep the key properties from regressing.

"""


def _sections(text: str) -> tuple[str, list[list[str]]]:
    """(preamble, [(name, section)]): a section runs from its ``## <name>``
    heading to the next heading outside a code fence."""
    head, secs, fence = "", [], False
    for line in text.splitlines(keepends=True):
        if line.startswith("```"):
            fence = not fence
        if not fence and line.startswith("## "):
            secs.append([line.split()[1], line])
        elif secs:
            secs[-1][1] += line
        else:
            head += line
    return head, secs


def splice(text: str, built: dict[str, str]) -> str:
    """``text`` with each section named in ``built`` replaced in place;
    sections it does not have yet are appended at the end."""
    head, secs = _sections(text)
    todo = dict(built)
    out = head + "".join(todo.pop(name, sec) for name, sec in secs)
    if todo and not out.endswith("\n"):
        out += "\n"
    return out + "".join(todo.values())


def kept_lines(details: str) -> list[str]:
    """The scan-detail lines of a formatted plan that PLANS.md keeps, with
    the repository path dropped and a memo name's two digests written as
    ``<code>`` and ``<fp>``: the package code digest changes on every
    package edit and the source fingerprint (path, size, mtime) on every
    host, so a section would otherwise change with every regeneration."""
    from docling_rag_spark import artifacts

    memo = re.compile(
        rf"_{re.escape(artifacts._code_hash())}_([^/\]]+)_{artifacts._DIGEST}\.parquet"
    )
    return [
        memo.sub(r"_<code>_\1_<fp>.parquet", line.replace(f"{REPO}/", ""))
        for line in details.splitlines()
        if any(k in line for k in ("PushedFilters", "ReadSchema", "Location"))
    ]


def main() -> None:
    from pyspark.sql import functions as F

    from docling_rag_spark.operators.dedup import minhash_lsh_pairs
    from docling_rag_spark.operators.retrieval import pricing_summary, revenue_by_nation
    from docling_rag_spark.operators.similarity import knn_bruteforce
    from docling_rag_spark.pipeline import (
        extract_documents_narrow,
        resume_filter,
        run_extraction,
    )
    from docling_rag_spark.session import get_spark
    from docling_rag_spark.sources.corpus import corpus_for_sf

    spark = get_spark(master="local[8]", app_name="plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    corpus = corpus_for_sf(spark, sf)

    plans = {}
    plans["extract_narrow"] = extract_documents_narrow(corpus)
    lineage = run_extraction(corpus, run_id="plans")[2]
    plans["extract_spread"] = run_extraction(corpus, mode="spread")[1]
    plans["knn_bruteforce"] = knn_bruteforce(spark, sf)
    plans["pricing_summary"] = pricing_summary(spark, sf)
    plans["revenue_by_nation"] = revenue_by_nation(spark, sf)
    plans["dedup_minhash_lsh"] = minhash_lsh_pairs(spark, sf)
    plans["resume_filter"] = resume_filter(corpus, lineage)
    from docling_rag_spark.operators.retrieval import fulltext_topk_cd
    from docling_rag_spark.operators.temporal import range_join_event_neighbors

    plans["range_join"] = range_join_event_neighbors(spark, sf)
    plans["fulltext_topk_cd"] = fulltext_topk_cd(spark, sf)
    from docling_rag_spark.operators.dedup import simhash_docs
    from docling_rag_spark.operators.retrieval import (
        fulltext_topk_bm25,
        hybrid_rrf_chunks,
    )
    from docling_rag_spark.operators.training_set import decontaminate

    plans["dedup_simhash"] = simhash_docs(spark, sf)
    plans["fulltext_topk_bm25"] = fulltext_topk_bm25(spark, sf)
    plans["hybrid_rrf_chunks"] = hybrid_rrf_chunks(spark, sf)
    plans["decontaminate"] = decontaminate(spark, sf)
    from docling_rag_spark.operators.retrieval import paginate_docs
    from docling_rag_spark.operators.similarity import knn_ivf_batch
    from docling_rag_spark.operators.textstats import gopher_quality

    plans["paginate_docs"] = paginate_docs(spark, sf)
    plans["knn_ivf_batch"] = knn_ivf_batch(spark, sf)
    plans["text_gopher_filters"] = gopher_quality(spark, sf)

    sections = {}
    for name, df in plans.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        # keep the operator tree + the interesting scan details, drop the
        # long per-node field dumps
        tree, _, details = txt.partition("\n\n")
        sections[name] = "\n".join([
            f"## {name}", "", COMMENT.get(name, ""), "", "```",
            tree.strip()[:4000], *(kept_lines(details)[:8]), "```", "", ""])
    path = REPO / "PLANS.md"
    path.write_text(splice(path.read_text() if path.exists() else PREAMBLE, sections))
    print(f"updated {len(sections)} sections of PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
