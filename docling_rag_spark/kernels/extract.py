"""Per-span extraction dispatcher + single-process oracle.

``extract_span`` is the one function both execution contexts run:
- the Spark pipeline calls it inside an Arrow-vectorized ``mapInPandas``
  stage over whole documents, or over reading-order slices of them in
  spread mode (docling_rag_spark/pipeline.py), and
- ``extract_document_oracle`` runs it single-process over a whole document
  (the stand-in for the reference's docling conversion,
  reference src/ingestion/document.py:116-188 + src/ingestion/pipeline.py:13-54).

Tests assert span-sequence equality on (kind, text, media_ref, order)
between the two (BASELINE.json:15).
"""

from __future__ import annotations

from .html_extract import extract_html_blocks
from .pdf_extract import extract_pdf_blocks
from .textutils import tidy

TEXT_KINDS = frozenset({"text", "txt", "md", "markdown", "plain"})
MEDIA_KINDS = frozenset({"image", "audio", "video"})


def extract_span(
    kind: str, text: str | None, media_ref: str | None
) -> list[tuple[str, str, str | None, int | None]]:
    """One input span → ordered output blocks [(kind, text, media_ref, page_no)].

    Dispatch mirrors the reference's MIME routing
    (src/ingestion/document.py:24-58): documents are parsed, media spans
    pass through preserved in order (inline image markers,
    src/ingestion/document.py:113-114).
    """
    kind = (kind or "").lower()
    text = text or ""
    if kind in TEXT_KINDS:
        t = tidy(text)
        return [("text", t, None, None)] if t else []
    if kind == "html":
        return [(k, t, r, None) for (k, t, r) in extract_html_blocks(text)]
    if kind == "pdf":
        try:
            return extract_pdf_blocks(text)
        except ValueError:
            return [("error", "invalid minipdf payload", None, None)]
    if kind in MEDIA_KINDS:
        return [(kind, "", media_ref, None)]
    # unknown kind: media passthrough if it carries a ref, else treat as text
    if media_ref:
        return [(kind, "", media_ref, None)]
    t = tidy(text)
    return [("text", t, None, None)] if t else []


def extract_document_oracle(
    spans: list[dict],
) -> list[tuple[int, str, str, str | None, int | None]]:
    """Single-process golden extraction of one document.

    ``spans``: list of {kind, text, media_ref, offset} dicts (input order is
    irrelevant — sorted by (offset, original index) like the Spark window).
    Returns [(order, kind, text, media_ref, page_no)] with 0-based total
    per-document order.
    """
    indexed = sorted(
        enumerate(spans), key=lambda p: (p[1].get("offset") or 0, p[0])
    )
    out = []
    order = 0
    for _, s in indexed:
        for k, t, r, page in extract_span(s.get("kind"), s.get("text"), s.get("media_ref")):
            if k == "error":
                continue
            out.append((order, k, t, r, page))
            order += 1
    return out
