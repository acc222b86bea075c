"""pipeline.doc_metadata: values against the golden per-document recipe,
and the plan shape of the keyed sink over a cached extraction."""

from __future__ import annotations

import re

import pytest

from docling_rag_spark.datagen import make_html, make_minipdf
from docling_rag_spark.pipeline import doc_metadata, release_extraction, run_extraction
from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA
from tests.make_extract_golden import process_doc

MALFORMED_PDF = "%MINIPDF 0\nthis payload lost its header"


def _span(kind, text="", ref=None, offset=0):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": offset}


def _corpus() -> list[tuple[str, list[dict] | None]]:
    paras = ["first paragraph of the report", "the second one is here",
             "third and last", "closing words of the doc"]
    pdf = make_minipdf("p", paras, pages=2, with_raster=False)
    html = make_html("h", paras[:2], with_table=True, with_img=True)
    return [
        # pdf > html > txt, whatever the span order
        ("pdf_html_txt", [_span("text", "intro text", offset=20),
                          _span("html", html, offset=10), _span("pdf", pdf, offset=0)]),
        ("html_txt", [_span("text", "some intro words", offset=0),
                      _span("html", html, offset=10)]),
        ("txt_only", [_span("text", "only plain text in this one", offset=0)]),
        # the planted malformed MINIPDF fails the whole document
        ("malformed", [_span("text", "a good span before it", offset=0),
                       _span("pdf", MALFORMED_PDF, offset=10)]),
        ("image_only", [_span("image", "", "img://a", offset=0),
                        _span("audio", "", "aud://a", offset=10)]),
        ("null_spans", None),
        ("empty_spans", []),
        ("spanish", [_span("text", "el informe de la empresa para los clientes "
                                   "con una nota por la tarde", offset=0),
                     _span("text", "the and of to in is that", offset=10)]),
    ]


@pytest.mark.parametrize("mode", ["narrow", "spread"])
def test_doc_metadata_matches_golden_recipe(spark, mode):
    rows = _corpus()
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SPANS_SCHEMA)
    extracted, chunks, lineage = run_extraction(docs, mode=mode, persist_blocks=True)
    try:
        chunks.count()  # fill the chunks cache first, as the chunks sink does
        meta = doc_metadata(docs, extracted, chunks).dropDuplicates(["doc_id"])
        assert [(f.name, f.dataType.simpleString()) for f in meta.schema.fields] == [
            ("doc_id", "string"), ("doc_type", "string"), ("language", "string"),
            ("num_chunks", "bigint"), ("num_tokens", "bigint"), ("num_pages", "int"),
        ]
        got = {r["doc_id"]: {k: r[k] for k in r.asDict() if k != "doc_id"}
               for r in meta.collect()}
    finally:
        release_extraction(lineage)
    want = {doc_id: process_doc(spans)[2] for doc_id, spans in rows}
    assert got == want
    # the corpus covers what it claims to
    assert [want[d]["doc_type"] for d in ("pdf_html_txt", "html_txt", "txt_only")] == [
        "pdf", "html", "txt"]
    assert want["malformed"] == {"doc_type": "pdf", "language": "en", "num_chunks": 0,
                                 "num_tokens": None, "num_pages": None}
    assert want["image_only"]["num_chunks"] == 0
    assert want["null_spans"]["doc_type"] == want["empty_spans"]["doc_type"] == "txt"
    assert want["spanish"]["language"] == "es"


def _outside_cached(plan: str) -> list[str]:
    """The node names of an executedPlan string, minus every
    InMemoryRelation subtree (a cached plan runs once, not per query)."""
    nodes, skip_below = [], None
    for line in plan.splitlines():
        name = line.lstrip(" :|+-")
        depth = len(line) - len(name)
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = depth if name.startswith("InMemoryRelation") else None
        nodes.append(name)
    return nodes


def test_doc_metadata_sink_plan_has_one_exchange(spark, tmp_path):
    """The doc_metadata sink over run_extraction(persist_blocks=True): the
    chunk kernel is not re-run (no MapInPandas outside the caches), the
    rollup and the sink's dropDuplicates share one shuffle, and the input
    scan reads only the span kinds."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(_corpus(), schema=DOCUMENTS_SPANS_SCHEMA).write.parquet(path)
    docs = spark.read.parquet(path)
    extracted, chunks, lineage = run_extraction(docs, persist_blocks=True)
    try:
        sink = doc_metadata(docs, extracted, chunks).dropDuplicates(["doc_id"])
        plan = sink._jdf.queryExecution().executedPlan().toString()
    finally:
        release_extraction(lineage)
    nodes = _outside_cached(plan)
    assert sum(bool(re.match(r"(\*\(\d+\) )?\w*Exchange\b", n)) for n in nodes) == 1, plan
    assert not any("MapInPandas" in n for n in nodes), plan
    scans = [n for n in nodes if "FileScan" in n]
    assert scans and all("spans:array<struct<kind:string>>" in n for n in scans), plan


@pytest.mark.parametrize("mode, n_python, n_exchange", [
    ("narrow", 1, 1),  # the kernel; the sink's key
    ("spread", 2, 2),  # the slice kernel + the stitch; doc_id + the sink's key
], ids=["narrow", "spread"])
def test_chunks_sink_plan_caches_one_frame(spark, tmp_path, mode, n_python, n_exchange):
    """Both modes pack the chunks inside a kernel, so the chunks sink's
    whole plan, cached subtrees included, runs narrow's one Python stage
    or spread's two, no shuffle beyond spread's doc_id cluster and the
    sink's key exchange, and run_extraction caches one frame."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(_corpus(), schema=DOCUMENTS_SPANS_SCHEMA).write.parquet(path)
    docs = spark.read.parquet(path)
    _, chunks, lineage = run_extraction(docs, mode=mode, persist_blocks=True)
    try:
        sink = chunks.dropDuplicates(["id"])
        plan = sink._jdf.queryExecution().executedPlan().toString()
        n_cached = len(lineage._cached)
    finally:
        release_extraction(lineage)
    nodes = [line.lstrip(" :|+-") for line in plan.splitlines()]
    assert sum("MapInPandas" in n for n in nodes) == n_python, plan
    assert sum(
        bool(re.match(r"(\*\(\d+\) )?\w*Exchange\b", n)) for n in nodes
    ) == n_exchange, plan
    assert n_cached == 1
