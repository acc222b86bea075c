"""Deterministic synthetic interleaved-document corpus.

The driver's `input_hint` (BASELINE.json:15) fixes the input-table shape:

    doc_id: string
    spans:  array<struct<kind string, text string, media_ref string, offset int>>

No such table ships in /root/testdata, so we synthesize it *deterministically*
from the driver's ``documents.parquet`` (doc_id, text, lang, source, n_chars):
every span payload is a pure function of (doc_id, text) — md5-derived choices,
no RNG — so any two runs (and the oracle) see identical bytes at every sf.

Fixture shape follows FIXTURES.md §F1: html spans carry main content AND
boilerplate (nav/footer/link-farm/cookie banner); pdf spans are scrambled
MINIPDF payloads (reading-order + table/figure + OCR-probe exercise); media
spans pass through; ~1% of docs are "giant" (many spans — the straggler/skew
case motivating round-robin span repartitioning, SURVEY.md §7.3).
"""

from __future__ import annotations

import hashlib

from .kernels.pdf_extract import MAGIC

GIANT_MOD = 101  # docs where md5-choice % GIANT_MOD == 0 become giants
GIANT_REPEAT = 60  # giant docs get this many extra span groups


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _pieces(text: str, n: int) -> list[str]:
    words = text.split()
    if not words:
        return [""] * n
    step = max(1, len(words) // n)
    return [" ".join(words[i * step : (i + 1) * step]) or words[-1] for i in range(n)]


def make_html(doc_id: str, main_paras: list[str], with_table: bool, with_img: bool) -> str:
    nav = (
        "<nav><ul><li><a href='/'>Home</a></li><li><a href='/a'>Products</a></li>"
        "<li><a href='/b'>About us</a></li><li><a href='/c'>Contact</a></li></ul></nav>"
    )
    cookie = (
        "<div><a href='#accept'>Accept all cookies</a> <a href='#reject'>Reject</a> "
        "<a href='#manage'>Manage preferences</a></div>"
    )
    linkfarm = "<div>" + " ".join(
        f"<a href='/l{i}'>related link {i}</a>" for i in range(8)
    ) + "</div>"
    footer = "<footer><p>Copyright 2026 Example Corp. <a href='/tos'>Terms</a></p></footer>"
    body = [f"<h1>Document {doc_id}</h1>"]
    for i, p in enumerate(main_paras):
        # heading-split sections: exercises the chunker's heading-aware
        # merge (undersized adjacent peers under one heading pack together)
        body.append(f"<h2>Section {i} of {doc_id}</h2>")
        body.append(f"<p>{p}</p>")
        if with_table and i == 0:
            body.append(
                "<table><tr><td>metric</td><td>value</td></tr>"
                f"<tr><td>length</td><td>{len(p)}</td></tr></table>"
            )
        if with_img and i == len(main_paras) - 1:
            body.append(f"<img src='img://{doc_id}/inline'>")
    return (
        "<html><head><title>t</title><style>body{}</style></head><body>"
        + nav + cookie + "<article>" + "".join(body) + "</article>"
        + linkfarm + footer + "</body></html>"
    )


def make_minipdf(doc_id: str, paras: list[str], pages: int, with_raster: bool) -> str:
    """Build a MINIPDF payload with block lines deterministically scrambled
    (sorted by md5 of the line) to exercise the reading-order sort."""
    lines = []
    per_page = max(1, len(paras) // pages)
    for pi in range(pages):
        page = pi + 1
        chunk = paras[pi * per_page : (pi + 1) * per_page] or [paras[-1]]
        lines.append(f"block {page} 0 10 heading - Part {page} of {doc_id}")
        for bi, p in enumerate(chunk):
            col = 0 if (bi % 2 == 0) else 320  # two-column layout
            y = 40 + 48 * (bi // 2)
            lines.append(f"block {page} {col} {y} text - {p}")
        lines.append(
            f"block {page} 0 700 table table://{doc_id}/p{page} "
            f"col_a | col_b | {len(chunk)} | {page}"
        )
        lines.append(f"block {page} 320 700 figure fig://{doc_id}/p{page}")
        if with_raster:
            lines.append(f"block {page} 0 760 rastertext - scanned margin note {page}")
    scrambled = sorted(lines, key=lambda l: hashlib.md5(l.encode()).hexdigest())
    return MAGIC + "\n" + "\n".join(scrambled)


def build_spans(doc_id: str, text: str) -> list[dict]:
    """Pure function (doc_id, text) → interleaved span list (FIXTURES.md F1)."""
    choice = _h(doc_id)
    paras = _pieces(text, 4)
    spans: list[dict] = []
    off = 0

    def add(kind: str, txt: str = "", ref: str | None = None) -> None:
        nonlocal off
        spans.append({"kind": kind, "text": txt, "media_ref": ref, "offset": off})
        off += 10

    def one_group(gi: int) -> None:
        g = f"{doc_id}:{gi}"
        add("text", f"{paras[0]} intro segment {gi}")
        add(
            "html",
            make_html(g, [paras[1] + f" part {gi}", paras[2]],
                      with_table=(choice + gi) % 3 == 0,
                      with_img=(choice + gi) % 2 == 0),
        )
        if (choice + gi) % 4 != 3:
            add(
                "pdf",
                make_minipdf(g, [p + f" pg {gi}" for p in paras],
                             pages=1 + (choice + gi) % 3,
                             with_raster=(choice + gi) % 5 == 0),
            )
        if (choice + gi) % 2 == 0:
            add("image", "", f"img://{g}")
        if (choice + gi) % 7 == 0:
            add("audio", "", f"aud://{g}")
        add("text", f"{paras[3]} closing remark {gi}")

    groups = 1 + (GIANT_REPEAT if choice % GIANT_MOD == 0 else 0)
    for gi in range(groups):
        one_group(gi)

    # a slice of docs gets its spans array stored NOT offset-sorted, to prove
    # the engine orders by offset rather than array position
    if choice % 4 == 0:
        spans = sorted(spans, key=lambda s: hashlib.md5(
            f"{doc_id}|{s['offset']}".encode()).hexdigest())
    return spans


