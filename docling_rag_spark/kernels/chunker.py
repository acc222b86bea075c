"""Single-process chunker mirror of the pipeline's chunks (frozen spec v2).

Reference semantics: HybridChunker walks the doc tree in reading order with
heading context, packs items into <=512-token chunks, and merges undersized
*adjacent* peers sharing headings (reference src/ingestion/chunker.py:16-27,
max_tokens src/config.py:34). Re-specified here as a deterministic
single-pass greedy packer. The pipeline's kernels share :class:`ChunkPacker`
with this oracle through one emitter (pipeline._Emitter), and tests assert
equality: the narrow extraction kernel packs each whole document, and
spread's stitch kernel packs a document's blocks after a doc_id exchange.

Frozen spec v2:
- chunkable spans: kind in {heading, text, table} with non-empty text,
  walked in per-document `order`.
- a HEADING span always starts a new chunk and sets the heading context for
  the spans that follow; its text is part of that chunk (adjacent peers
  under one heading therefore pack together, and a chunk never spans two
  heading contexts — the reference's merge-undersized-peers-sharing-headings
  rule expressed as a forward walk).
  INTENTIONAL FORMAT DIVERGENCE from the reference: docling's HybridChunker
  keeps heading text as chunk *metadata/contextualization* (chunk.text
  excludes it), so reference chunk texts — and therefore the md5 chunk ids,
  whose recipe itself matches exactly — differ for the same document. This
  spec folds the heading INTO the chunk text because the engine's chunk
  rows carry no separate heading-context column; the id recipe, token
  budget, page provenance, and never-split-oversized rules are reference-
  exact. Swap rule: to restore byte parity, emit heading text to a
  `heading` column instead of `_texts` in :meth:`ChunkPacker.add`.
- greedy 512-token budget WITHIN a context run: a span whose tokens would
  overflow the current non-empty chunk starts a new chunk (running sum
  resets — true greedy packing, not prefix-sum binning). Only a single span
  larger than max_tokens may produce an oversized chunk (the reference
  never splits a single oversized item either; downstream embedding
  truncates).
- chunk text = ' '-join of span texts in order; n_tokens = sum of span
  token counts; page_num = first span's page (reference
  src/ingestion/chunker.py:35-42: doc_items[0].prov[0].page_no or None);
  chunk_index = 0-based; id = md5('{doc_id}_{chunk_index}_{text}') (exact
  reference recipe, src/ingestion/chunker.py:49).
"""

from __future__ import annotations

from .textutils import chunk_id, token_count

MAX_TOKENS = 512  # reference src/config.py:34

CHUNKABLE_KINDS = frozenset({"heading", "text", "table"})


class ChunkPacker:
    """Incremental greedy packer — feed chunkable spans of ONE document in
    order via :meth:`add`, collect chunks via :meth:`finish`. Incremental so
    the Spark kernel can stream spans across Arrow batch boundaries."""

    def __init__(self, max_tokens: int = MAX_TOKENS) -> None:
        self.max_tokens = max_tokens
        self._chunks: list[dict] = []
        self._texts: list[str] = []
        self._tokens = 0
        self._page = None
        self._has_page = False

    def _flush(self) -> None:
        if not self._texts:
            return
        self._chunks.append(
            {
                "chunk_index": len(self._chunks),
                "text": " ".join(self._texts),
                "page_num": self._page,
                "n_tokens": self._tokens,
            }
        )
        self._texts, self._tokens = [], 0
        self._page, self._has_page = None, False

    def add(self, kind: str, text: str | None, page_num: int | None) -> None:
        if kind not in CHUNKABLE_KINDS or not text:
            return
        tok = token_count(text)
        if kind == "heading" or (self._texts and self._tokens + tok > self.max_tokens):
            self._flush()
        if not self._has_page:
            self._page, self._has_page = page_num, True
        self._texts.append(text)
        self._tokens += tok

    def finish(self) -> list[dict]:
        self._flush()
        return self._chunks


def chunk_document(
    spans: list[tuple[int, str, str, str | None, int | None]],
    max_tokens: int = MAX_TOKENS,
) -> list[dict]:
    """spans: [(order, kind, text, media_ref, page_num)] (any order; sorted
    by `order` here) → chunk dicts matching the pipeline's chunks columns."""
    packer = ChunkPacker(max_tokens)
    for order, kind, text, _ref, page in sorted(spans, key=lambda s: s[0]):
        packer.add(kind, text, page)
    return packer.finish()


def chunk_ids(doc_id: str, chunks: list[dict]) -> list[str]:
    return [chunk_id(doc_id, c["chunk_index"], c["text"]) for c in chunks]
