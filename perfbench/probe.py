"""Single-process kernel probe: the UDF body without Spark around it.

Times ``extract_span`` on a seeded sample of the workload's own input spans
and ``chunk_document`` (the ``ChunkPacker`` walk) on the oracle output of a
seeded sample of its documents. Scaled to the whole input, the per-kind
span cost estimates how much of the extraction stage's task time is spent
inside the Python kernel body; the rest is the Arrow/pandas boundary, the
scan and the write.
"""

from __future__ import annotations

import random
import statistics
import time
from collections import defaultdict

from docling_rag_spark.kernels.chunker import chunk_document
from docling_rag_spark.kernels.extract import TEXT_KINDS, extract_document_oracle, extract_span

from .gen import Corpus

PROBE_SPANS = 2000
PROBE_DOCS = 200


def _group(kind: str | None) -> str:
    kind = (kind or "").lower()
    if kind in ("html", "pdf"):
        return kind
    return "text" if kind in TEXT_KINDS else "other"


def _p99(values: list[float]) -> float:
    return statistics.quantiles(values, n=100)[98] if len(values) > 1 else values[0]


def kernel_probe(todo: Corpus, seed: int) -> dict:
    rng = random.Random(f"{seed}:probe")
    spans = [sp for d in todo.docs for sp in d["spans"]]
    per_kind: dict[str, list[float]] = defaultdict(list)
    html_kb = 0.0
    blocks = 0
    sample = rng.sample(spans, min(PROBE_SPANS, len(spans)))
    for sp in sample:
        t0 = time.perf_counter_ns()
        out = extract_span(sp["kind"], sp["text"], sp["media_ref"])
        per_kind[_group(sp["kind"])].append((time.perf_counter_ns() - t0) / 1e3)
        blocks += len(out)
        if _group(sp["kind"]) == "html":
            html_kb += len((sp["text"] or "").encode()) / 1024
    ok_docs = [d for d in todo.docs if d["doc_id"] not in todo.planted]
    chunk_us = []
    for d in rng.sample(ok_docs, min(PROBE_DOCS, len(ok_docs))):
        oracle = extract_document_oracle(d["spans"])
        t0 = time.perf_counter_ns()
        chunk_document(oracle)
        chunk_us.append((time.perf_counter_ns() - t0) / 1e3)

    mean = {k: statistics.fmean(v) for k, v in per_kind.items()}
    counts: dict[str, int] = defaultdict(int)
    for sp in spans:
        counts[_group(sp["kind"])] += 1
    kernel_s = sum(counts[k] * mean.get(k, 0.0) for k in counts) / 1e6
    return {
        "html_us_per_span": mean["html"],
        "html_us_per_kb": sum(per_kind["html"]) / html_kb,
        "html_p99_us": _p99(per_kind["html"]),
        "pdf_us_per_span": mean["pdf"],
        "pdf_p99_us": _p99(per_kind["pdf"]),
        "text_us_per_span": mean["text"],
        "blocks_per_span": blocks / len(sample),
        "chunker_us_per_doc": statistics.fmean(chunk_us),
        "kernel_s_scaled": kernel_s,
    }
