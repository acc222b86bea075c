"""(Re)generate the per-sf GOLDEN parquet for the 4 extraction driver
queries (tests/golden/extract_*.parquet) — the single-process oracle of the
full corpus→extract→order→chunk→metadata pipeline, run pure-Python
(no Spark) over each /root/testdata/sf*/documents.parquet.

These files make the flagship extraction pipeline driver-checkable: the
DuckDB oracle SQL in operators/extraction_queries.py selects the golden
slice whose ``corpus_key`` (a content digest of the documents table — sfs
0.001 and 0.01 share doc_ids but differ in text, so row counts are NOT a
valid key) matches the corpus the Spark query ran on.

Semantics mirrored (must stay in lockstep with the driver queries):
- corpus derivation: datagen.build_spans per (doc_id, text)
  (sources/corpus.py:35-47)
- extraction + ordering: kernels.extract.extract_span over spans sorted by
  (offset, original index); any error block fails the WHOLE document, which
  is then dropped (pipeline._extract_kernel emits only its lineage
  sentinel); order is the 0-based rank among real (non-error) blocks
- chunks: kernels.chunker.ChunkPacker (frozen spec v2) + the md5 chunk id
- metadata: pipeline.doc_metadata's per-document rollup (doc_type
  precedence, language of first chunk, chunk/token counts, max page),
  'en'/0 coalesces included

Run manually ONLY on a deliberate spec or datagen change:
``python tests/make_extract_golden.py``. tests/test_golden_spec.py compares
a live regeneration against the committed files so drift cannot go stale.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from docling_rag_spark.datagen import build_spans  # noqa: E402
from docling_rag_spark.kernels.chunker import ChunkPacker  # noqa: E402
from docling_rag_spark.kernels.extract import extract_span  # noqa: E402
from docling_rag_spark.kernels.textutils import chunk_id, detect_language  # noqa: E402

GOLDEN_DIR = Path(__file__).parent / "golden"
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def corpus_key(docs: list[tuple[str, str]]) -> str:
    """md5(string_agg(md5(text), ',' order by cast(doc_id as varchar))) —
    EXACTLY the DuckDB expression the oracle SQL computes over the
    ``documents`` view (doc_id is BIGINT there; the engine stringifies it,
    so the digest ordering is the STRING order on both sides)."""
    parts = [
        hashlib.md5((t or "").encode()).hexdigest()
        for _d, t in sorted(docs, key=lambda p: str(p[0]))
    ]
    return hashlib.md5(",".join(parts).encode()).hexdigest()


def extract_doc(spans: list[dict]) -> list[tuple[str, str, str | None, int | None]] | None:
    """Driver-query extraction of one document: ordered real blocks, or
    None when the document FAILS (any error block → whole doc dropped,
    as pipeline._extract_kernel does)."""
    indexed = sorted(enumerate(spans), key=lambda p: (p[1].get("offset") or 0, p[0]))
    blocks: list[tuple[str, str, str | None, int | None]] = []
    for _, s in indexed:
        try:
            out = extract_span(s.get("kind"), s.get("text"), s.get("media_ref"))
        except Exception:
            return None
        for k, t, r, page in out:
            if k == "error":
                return None
            blocks.append((k, t, r, page))
    return blocks


def process_doc(spans: list[dict] | None) -> tuple[list | None, list[dict], dict]:
    """One document's (blocks or None when it fails, chunks, metadata row
    without doc_id) — the per-document recipe of every golden table. A null
    spans array is an empty document (doc_type 'txt')."""
    spans = spans or []
    in_kinds = {s["kind"] for s in spans}
    doc_type = "pdf" if "pdf" in in_kinds else ("html" if "html" in in_kinds else "txt")
    blocks = extract_doc(spans)
    chunks: list[dict] = []
    if blocks is not None:
        packer = ChunkPacker()
        for kind, t, _ref, page in blocks:
            packer.add(kind, t, page)
        chunks = packer.finish()
    pages = [p for (_k, _t, _r, p) in (blocks or []) if p is not None]
    meta = {
        "doc_type": doc_type,
        "language": detect_language(chunks[0]["text"]) if chunks else "en",
        "num_chunks": len(chunks),
        "num_tokens": sum(c["n_tokens"] for c in chunks) if chunks else None,
        "num_pages": max(pages) if pages else None,
    }
    return blocks, chunks, meta


def golden_for_sf(sf_dir: str) -> dict[str, list[dict]]:
    import duckdb

    docs = duckdb.sql(
        f"select doc_id, text from read_parquet('{sf_dir}/documents.parquet')"
        " order by doc_id"
    ).fetchall()
    key = corpus_key(docs)
    span_rows: list[dict] = []
    chunk_rows: list[dict] = []
    meta_rows: list[dict] = []
    lineage_rows: list[dict] = []
    for doc_id, text in docs:
        doc_id = str(doc_id)  # the Spark corpus stringifies (corpus.py:41)
        spans = build_spans(doc_id, text or "")
        blocks, chunks, meta = process_doc(spans)
        for order, (kind, t, ref, page) in enumerate(blocks or []):
            span_rows.append(
                {"corpus_key": key, "doc_id": doc_id, "order": order,
                 "kind": kind, "text": t, "media_ref": ref, "page_num": page}
            )
        for c in chunks:
            chunk_rows.append(
                {"corpus_key": key, "doc_id": doc_id,
                 "chunk_index": c["chunk_index"], "text": c["text"],
                 "page_num": c["page_num"], "n_tokens": c["n_tokens"],
                 "id": chunk_id(doc_id, c["chunk_index"], c["text"])}
            )
        lineage_rows.append(
            {"corpus_key": key, "doc_id": doc_id,
             "status": "failed" if blocks is None else "processed",
             "n_spans_in": len(spans),
             "n_blocks_out": 0 if blocks is None else len(blocks)}
        )
        meta_rows.append({"corpus_key": key, "doc_id": doc_id, **meta})
    return {"spans": span_rows, "chunks": chunk_rows, "meta": meta_rows,
            "lineage": lineage_rows}


# dtypes must match the Spark query output exactly (driver compares after a
# dtype-sensitive canonicalization): order/page_num/chunk_index/n_tokens/
# num_pages are int32 in the Spark plans; num_chunks/num_tokens are long
_SCHEMAS = {
    "spans": pa.schema(
        [("corpus_key", pa.string()), ("doc_id", pa.string()),
         ("order", pa.int32()), ("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("page_num", pa.int32())]
    ),
    "chunks": pa.schema(
        [("corpus_key", pa.string()), ("doc_id", pa.string()),
         ("chunk_index", pa.int32()), ("text", pa.string()),
         ("page_num", pa.int32()), ("n_tokens", pa.int32()),
         ("id", pa.string())]
    ),
    "meta": pa.schema(
        [("corpus_key", pa.string()), ("doc_id", pa.string()),
         ("doc_type", pa.string()), ("language", pa.string()),
         ("num_chunks", pa.int64()), ("num_tokens", pa.int64()),
         ("num_pages", pa.int32())]
    ),
    # the DETERMINISTIC projection of the lineage checkpoint: run_id,
    # partition_id and ingested_at are per-run, everything else is a pure
    # function of the document
    "lineage": pa.schema(
        [("corpus_key", pa.string()), ("doc_id", pa.string()),
         ("status", pa.string()), ("n_spans_in", pa.int64()),
         ("n_blocks_out", pa.int64())]
    ),
}
FILES = {
    "spans": "extract_spans_golden.parquet",
    "chunks": "extract_chunks_golden.parquet",
    "meta": "extract_meta_golden.parquet",
    "lineage": "extract_lineage_golden.parquet",
}


def build_tables(sf_dirs: list[str] | None = None) -> dict[str, pa.Table]:
    rows: dict[str, list[dict]] = {k: [] for k in FILES}
    for sf_dir in sf_dirs or SF_DIRS:
        g = golden_for_sf(sf_dir)
        for k in rows:
            rows[k].extend(g[k])
    return {k: pa.Table.from_pylist(v, schema=_SCHEMAS[k]) for k, v in rows.items()}


def main() -> None:
    GOLDEN_DIR.mkdir(exist_ok=True)
    for k, table in build_tables().items():
        pq.write_table(table, GOLDEN_DIR / FILES[k])
        print(f"wrote {FILES[k]}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
