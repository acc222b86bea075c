"""Seeded input generator for the benchmark workloads.

The seed drives everything the inputs depend on: the doc_id salt (which
makes ``datagen.build_spans`` re-draw each document's kind mix, tables,
rasters, natural giants and shuffled span order), the document texts, which
documents carry a planted malformed MINIPDF span, and which datagen
documents are merged into the skew giants. For the curate queries it
drives the texts, languages, sources and doc_id order of a ``documents``
table and which documents form its planted near-duplicate chains. The
composition is fixed (document count, natural-giant count, planted count,
chain count and length), so seeds change which documents play each role,
never how much input there is.

The program only ever sees the parquet tables written here.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from docling_rag_spark.datagen import GIANT_MOD, _h, build_spans

# the word distribution of the sf documents tables: ~30 tokens drawn
# uniformly, 8-95 words per document
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
MALFORMED_PDF = "%MINIPDF 0\nthis payload lost its header"
PLANTED_SHARE = 0.005
INPUT_FILES = 8  # many-file input, as a real table is (one file = one task)

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
CORPUS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_TYPE)])


@dataclass
class Corpus:
    """Generated documents plus the facts the correctness checks need."""

    docs: list[dict] = field(default_factory=list)
    planted: set[str] = field(default_factory=set)

    @property
    def ids(self) -> set[str]:
        return {d["doc_id"] for d in self.docs}

    def n_spans(self) -> int:
        return sum(len(d["spans"]) for d in self.docs)

    def __add__(self, other: "Corpus") -> "Corpus":
        return Corpus(self.docs + other.docs, self.planted | other.planted)


def salt(seed: int) -> str:
    return hashlib.md5(f"perfbench:{seed}".encode()).hexdigest()[:8]


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 95)))


def _is_natural_giant(doc_id: str) -> bool:
    """datagen's own rule for which documents get GIANT_REPEAT extra groups."""
    return _h(doc_id) % GIANT_MOD == 0


def documents(seed: int, n: int, prefix: str) -> Corpus:
    """``n`` datagen documents named ``<salt>-<prefix><i>``. Exactly
    round(n / GIANT_MOD) of them are datagen's natural giants and
    max(1, round(n * PLANTED_SHARE)) ordinary ones carry one malformed
    MINIPDF span appended after their last span (so the whole document
    must land ``failed`` in lineage)."""
    rng = random.Random(f"{seed}:{prefix}")
    want_giants = round(n / GIANT_MOD)
    s = salt(seed)
    docs, giants, plain, i = [], 0, 0, 0
    while giants + plain < n:
        doc_id = f"{s}-{prefix}{i}"
        i += 1
        text = _text(rng)
        if _is_natural_giant(doc_id):
            if giants == want_giants:
                continue
            giants += 1
        else:
            if plain == n - want_giants:
                continue
            plain += 1
        docs.append({"doc_id": doc_id, "spans": build_spans(doc_id, text)})
    ordinary = [d for d in docs if not _is_natural_giant(d["doc_id"])]
    planted = set()
    for d in rng.sample(ordinary, max(1, round(n * PLANTED_SHARE))):
        last = max(sp["offset"] for sp in d["spans"])
        d["spans"].append(
            {"kind": "pdf", "text": MALFORMED_PDF, "media_ref": None, "offset": last + 10}
        )
        planted.add(d["doc_id"])
    return Corpus(docs, planted)


def skew_giants(seed: int, count: int, min_spans: int, prefix: str = "giant") -> Corpus:
    """``count`` giant documents named ``<salt>-<prefix><i>``, of at least
    ``min_spans`` spans each, made by concatenating the spans of seeded
    datagen documents (mixed text/html/pdf/media, re-offset into one
    reading order)."""
    rng = random.Random(f"{seed}:{prefix}")
    s = salt(seed)
    out = []
    for g in range(count):
        spans: list[dict] = []
        k = 0
        while len(spans) < min_spans:
            part = f"{s}-{prefix}{g}p{k}"
            k += 1
            for sp in sorted(build_spans(part, _text(rng)), key=lambda x: x["offset"]):
                spans.append({**sp, "offset": 10 * len(spans)})
        out.append({"doc_id": f"{s}-{prefix}{g}", "spans": spans})
    return Corpus(out, set())


def write(corpus: Corpus, path: str) -> None:
    """Write ``corpus`` as a directory of INPUT_FILES parquet files
    (round-robin rows)."""
    os.makedirs(path, exist_ok=True)
    for k in range(INPUT_FILES):
        rows = corpus.docs[k::INPUT_FILES]
        pq.write_table(
            pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


# The curate queries' documents table has the schema of the sf data sets'
# ``documents.parquet``. Its words come from a vocabulary large enough that
# unrelated documents share no word 3-shingle, so the connected components
# of the minhash-LSH graph are exactly the planted chains for every seed.
# Which members of a chain the LSH pairs link (hence how many rounds the
# connected-components loop runs) still depends on the seed.
_SYL = "ka lo mi ne ru sa ti vo pe da gu ha ji ko ma no pa re se to".split()
CURATE_WORDS = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:8]]
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
DOCUMENTS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)


def curate_documents(seed: int, n: int, chains: int, chain_len: int, edits: int) -> pa.Table:
    """``n`` documents of 10-100 words; ``chains`` x ``chain_len`` of them
    form near-duplicate chains (each member is the previous one with
    ``edits`` words replaced). doc_ids are 0..n-1 in seeded order."""
    rng = random.Random(f"{seed}:curate")

    def words(k: int) -> list[str]:
        return [rng.choice(CURATE_WORDS) for _ in range(k)]

    texts = [words(rng.randint(10, 100)) for _ in range(n - chains * chain_len)]
    for _ in range(chains):
        member = words(rng.randint(60, 100))
        for _ in range(chain_len):
            texts.append(member)
            member = list(member)
            for pos in rng.sample(range(len(member)), edits):
                member[pos] = rng.choice(CURATE_WORDS)
    ids = list(range(n))
    rng.shuffle(ids)
    rows = sorted(
        (
            {"doc_id": i, "text": " ".join(t),
             "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
             "source": f"src{rng.randrange(20)}", "n_chars": len(" ".join(t))}
            for i, t in zip(ids, texts)
        ),
        key=lambda r: r["doc_id"],
    )
    return pa.Table.from_pylist(rows, schema=DOCUMENTS_SCHEMA)
