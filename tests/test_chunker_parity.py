"""Distributed chunker ≡ single-process chunker; adversarial edge-case docs
through BOTH pipeline modes and the oracle."""

from __future__ import annotations

import duckdb
import pytest

from docling_rag_spark.datagen import build_spans
from docling_rag_spark.kernels.chunker import chunk_document, chunk_ids
from docling_rag_spark.kernels.extract import extract_document_oracle
from docling_rag_spark.pipeline import run_extraction
from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA


def _corpus_rows(limit=50):
    con = duckdb.connect()
    rows = con.execute(
        "select doc_id, text from read_parquet("
        "'/root/testdata/sf0.001/documents.parquet') order by doc_id "
        f"limit {limit}"
    ).fetchall()
    return [(str(d), build_spans(str(d), t or "")) for d, t in rows]


def test_chunker_matches_python(spark):
    rows = _corpus_rows()
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SPANS_SCHEMA)
    _, chunks, _ = run_extraction(docs, run_id="cp")
    got: dict[str, list] = {}
    for r in chunks.collect():
        got.setdefault(r["doc_id"], []).append(r)
    for doc_id, spans in rows:
        want = chunk_document(extract_document_oracle(spans))
        want_ids = chunk_ids(doc_id, want)
        mine = sorted(got.get(doc_id, []), key=lambda r: r["chunk_index"])
        assert len(mine) == len(want), doc_id
        for m, w, wid in zip(mine, want, want_ids):
            assert m["text"] == w["text"], doc_id
            assert m["n_tokens"] == w["n_tokens"], doc_id
            assert m["page_num"] == w["page_num"], doc_id
            assert m["id"] == wid, doc_id


EDGE_DOCS = [
    ("empty_arr", []),
    ("only_media", [
        {"kind": "image", "text": "", "media_ref": "img://1", "offset": 0},
        {"kind": "audio", "text": None, "media_ref": "aud://2", "offset": 1},
    ]),
    ("dup_offsets", [
        {"kind": "text", "text": "alpha beta", "media_ref": None, "offset": 5},
        {"kind": "text", "text": "gamma delta words", "media_ref": None, "offset": 5},
        {"kind": "text", "text": "zero first entry", "media_ref": None, "offset": 0},
    ]),
    ("unicode", [
        {"kind": "text", "text": "héllo wörld — ünïcode 文字 🎉 test", "media_ref": None, "offset": 0},
        {"kind": "html", "text": "<p>Ünïcode paragraph with plenty of content — 字符串 here.</p>", "media_ref": None, "offset": 1},
    ]),
    ("whitespace_soup", [
        {"kind": "text", "text": " \t\r\n  ", "media_ref": None, "offset": 0},
        {"kind": "text", "text": "\n\nreal\t\ttext   appears\r\nhere\n", "media_ref": None, "offset": 1},
    ]),
    ("null_text", [
        {"kind": "text", "text": None, "media_ref": None, "offset": 0},
        {"kind": "html", "text": None, "media_ref": None, "offset": 1},
        {"kind": "text", "text": "survivor content", "media_ref": None, "offset": 2},
    ]),
    ("negative_offsets", [
        {"kind": "text", "text": "minus ten", "media_ref": None, "offset": -10},
        {"kind": "text", "text": "zero", "media_ref": None, "offset": 0},
    ]),
    ("html_edge", [
        {"kind": "html", "text": "<p>unclosed paragraph that keeps going with plenty of text", "media_ref": None, "offset": 0},
        {"kind": "html", "text": "<<<>>> <p></p> <img> <table></table>", "media_ref": None, "offset": 1},
    ]),
    # a malformed MINIPDF span fails the whole document: no blocks, no chunks
    ("malformed_pdf", [
        {"kind": "text", "text": "a good span before it", "media_ref": None, "offset": 0},
        {"kind": "pdf", "text": "%MINIPDF 0\nthis payload lost its header", "media_ref": None, "offset": 10},
    ]),
]
FAILED = {"malformed_pdf"}


def _giant_doc(n_spans: int = 2600) -> list[dict]:
    """A clean document of ``n_spans`` spans, in scrambled array order:
    spread cuts it into ~41 slices, and its stitched rows (blocks, chunks)
    cross several Arrow batches of 2048 rows. Paged MINIPDF headings and
    plain text mix null and non-null page numbers in one batch."""
    from docling_rag_spark.datagen import make_html, make_minipdf

    spans = []
    for o in range(n_spans):
        if o % 400 == 7:
            kind, text = "pdf", make_minipdf(f"g{o}", [f"pdf para {o} {i}" for i in range(4)],
                                             pages=2, with_raster=False)
        elif o % 150 == 3:
            kind, text = "html", make_html(f"g{o}", [f"html para {o}"], with_table=True,
                                           with_img=False)
        else:
            kind, text = "text", " ".join(f"w{o}x{i}" for i in range(o % 40 + 1))
        spans.append({"kind": kind, "text": text, "media_ref": None, "offset": o * 10})
    return spans[1::2] + spans[::2]


EDGE_DOCS.append(("giant_clean", _giant_doc()))


def test_edge_docs_narrow_spread_oracle_agree(spark):
    """Narrow packs chunks in the extraction kernel, spread in the stitch
    kernel after its doc_id exchange: both must equal the single-process
    oracle, blocks and chunks (ids included)."""
    docs = spark.createDataFrame(EDGE_DOCS, schema=DOCUMENTS_SPANS_SCHEMA)

    def seqs(mode, **kw):
        ex, ch, lin = run_extraction(docs, run_id=mode, mode=mode, **kw)
        out: dict[str, list] = {d: [] for d, _ in EDGE_DOCS}
        for r in ex.collect():
            out[r["doc_id"]].append((r["order"], r["kind"], r["text"], r["media_ref"]))
        chunks: dict[str, list] = {d: [] for d, _ in EDGE_DOCS}
        for r in ch.collect():
            chunks[r["doc_id"]].append(
                (r["chunk_index"], r["text"], r["page_num"], r["n_tokens"], r["id"])
            )
        statuses = {r["doc_id"]: r["status"] for r in lin.collect()}
        return (
            {k: sorted(v) for k, v in out.items()},
            {k: sorted(v) for k, v in chunks.items()},
            statuses,
        )

    narrow, ch_n, st_n = seqs("narrow")
    spread, ch_s, st_s = seqs("spread", repartition_to=4)
    assert narrow == spread
    assert ch_n == ch_s
    assert st_n == st_s
    assert st_n == {d: "failed" if d in FAILED else "processed" for d, _ in EDGE_DOCS}
    for doc_id, spans in EDGE_DOCS:
        if doc_id in FAILED:
            assert narrow[doc_id] == [] and ch_n[doc_id] == [], doc_id
            continue
        oracle = extract_document_oracle([dict(s) for s in spans])
        golden = [(o, k, t, r) for (o, k, t, r, _p) in oracle]
        assert narrow[doc_id] == golden, doc_id
        want = chunk_document(oracle)
        assert ch_n[doc_id] == [
            (c["chunk_index"], c["text"], c["page_num"], c["n_tokens"], wid)
            for c, wid in zip(want, chunk_ids(doc_id, want))
        ], doc_id
    # the corpus covers what it claims to: chunks on most docs, none on some
    assert sum(bool(v) for v in ch_n.values()) >= 5
    assert ch_n["empty_arr"] == ch_n["only_media"] == []
    # spot-check semantics: dup offsets keep array order among ties
    assert [t for (_o, _k, t, _r) in narrow["dup_offsets"]] == [
        "zero first entry", "alpha beta", "gamma delta words",
    ]
