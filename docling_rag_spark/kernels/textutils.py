"""Deterministic text utilities shared by the oracle and Spark kernels.

Reference semantics reproduced (citations into /root/reference):
- ``tidy``: src/ingestion/document.py:113-114
- chunk id recipe md5(f"{doc_id}_{idx}_{text}"): src/ingestion/chunker.py:49
- language detection (replaces seed-unstable langdetect, src/utils.py:55-61)
  with a fixed stopword-marker heuristic so Spark and the DuckDB oracle agree.
"""

from __future__ import annotations

import hashlib
import re

# re.ASCII: Python's default \s is Unicode-aware but Java regex (Spark
# regexp_replace) and RE2 (DuckDB) use ASCII [ \t\n\x0B\f\r] — the frozen
# spec is the ASCII set so all three engines tokenize identically (a
# non-breaking space is NOT a separator anywhere).
#
# Single combined pass == the two-pass reference recipe
# (sub('[\r\n]+|<!-- image -->', ' ') then sub('\s+', ' ')): every maximal
# run of {ASCII whitespace ∪ literal marker occurrences in the ORIGINAL
# string} collapses to one space either way, and pass 1 cannot enable new
# removals in pass 2 beyond whitespace collapse (a marker assembled BY
# pass-1 substitution survives both variants as text). One regex pass is
# ~2× faster and tidy is the hottest kernel primitive (profiled: 339k
# calls / 24% of extraction CPU at sf0.1). The SQL mirrors keep the
# two-pass form — values are identical.
_TIDY_RE = re.compile(r"(?:<!-- image -->|\s)+", re.ASCII)


def tidy(s: str) -> str:
    """Whitespace/image-marker cleanup, exact reference recipe
    (reference src/ingestion/document.py:113-114)."""
    if not s:
        return ""
    return _TIDY_RE.sub(" ", s).strip()


def tokenize(s: str) -> list[str]:
    """Whitespace tokenizer — the deterministic stand-in for the reference's
    HF tokenizer budget (reference src/ingestion/chunker.py:23-26); the same
    definition is used by the chunker window op and the DuckDB oracle
    (string_split on single spaces after whitespace collapse)."""
    s = tidy(s)
    return s.split(" ") if s else []


def token_count(s: str) -> int:
    return len(tokenize(s))


def chunk_id(doc_id: str, idx: int, text: str) -> str:
    """Exact chunk-id recipe of the reference (src/ingestion/chunker.py:49)."""
    return hashlib.md5(f"{doc_id}_{idx}_{text}".encode()).hexdigest()


def make_doc_id(path: str) -> str:
    """md5 of forward-slash-normalized path (reference src/utils.py:20-37)."""
    return hashlib.md5(path.replace("\\", "/").encode()).hexdigest()


# --- language identification (deterministic marker-word heuristic) ---------
# Fixed marker sets; prediction = language with the highest marker-token hit
# count, ties broken by the fixed order below, default 'en' (mirrors the
# reference's final 'en' fallback, src/ingestion/document.py:216-218).
LANG_MARKERS: list[tuple[str, frozenset[str]]] = [
    ("en", frozenset("the and of to in is that for with was".split())),
    ("es", frozenset("el la de que los las una por con para".split())),
    ("fr", frozenset("le la les des une est dans pour que qui".split())),
    ("de", frozenset("der die das und ist nicht mit ein eine von".split())),
]


def detect_language(s: str) -> str:
    toks = tokenize(s.lower()[:500])
    best_lang, best_hits = "en", -1
    for lang, markers in LANG_MARKERS:
        hits = sum(1 for t in toks if t in markers)
        if hits > best_hits:
            best_lang, best_hits = lang, hits
    return best_lang if best_hits > 0 else "en"


# --- quality scoring --------------------------------------------------------
EN_STOPWORDS = frozenset(
    "the and of to in is that for with was a on as are it by be this at "
    "from or an have not but had has they you which one all were".split()
)


# --- portable hashing (md5-based, expressible in both Spark SQL & DuckDB) --
def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def shingles(s: str, n: int = 3) -> list[str]:
    """Distinct word n-gram shingles in first-occurrence order."""
    toks = [t.lower() for t in tokenize(s)]
    seen: dict[str, None] = {}
    for i in range(max(0, len(toks) - n + 1)):
        seen[" ".join(toks[i : i + n])] = None
    return list(seen)


def minhash_signature(s: str, num_hashes: int = 16, n: int = 3) -> list[str]:
    """MinHash over word shingles using md5('{i}|{shingle}') and
    *lexicographic* min of the hex digest — portable to SQL (min over
    strings) in both Spark and DuckDB. Empty doc → empty-string mins."""
    sh = shingles(s, n)
    if not sh:
        return [""] * num_hashes
    return [min(md5_hex(f"{i}|{g}") for g in sh) for i in range(num_hashes)]


def simhash64(s: str) -> int:
    """64-bit SimHash over word tokens (md5 low 64 bits per token)."""
    counts = [0] * 64
    for t in tokenize(s):
        h = int(md5_hex(t.lower())[:16], 16)
        for j in range(64):
            counts[j] += 1 if (h >> j) & 1 else -1
    out = 0
    for j in range(64):
        if counts[j] > 0:
            out |= 1 << j
    return out


def rolling_fingerprint(s: str, window: int = 8, mod: int = 1 << 61) -> int:
    """Karp-Rabin-style rolling-hash document fingerprint: min hash over all
    `window`-token windows (a 'winnowing'-lite single fingerprint)."""
    toks = [t.lower() for t in tokenize(s)]
    if not toks:
        return 0
    if len(toks) < window:
        window = len(toks)
    base = 1_000_003
    h = 0
    poww = pow(base, window - 1, mod)
    vals = [int(md5_hex(t)[:8], 16) for t in toks]
    best = None
    for i, v in enumerate(vals):
        h = (h * base + v) % mod
        if i >= window:
            h = (h - vals[i - window] * poww * base) % mod
        if i >= window - 1:
            best = h if best is None else min(best, h)
    return best if best is not None else 0


def winnowing_fingerprints(
    s: str, window: int = 8, guarantee: int = 4, mod: int = 1 << 61
) -> list[int]:
    """Winnowing (Schleimer et al.) fingerprint SET: the distinct minima of
    each `guarantee`-window over the rolling `window`-token hashes — the
    multi-fingerprint upgrade of rolling_fingerprint (same hash recipe).
    Both parameters adapt down for short docs; empty doc → empty set."""
    toks = [t.lower() for t in tokenize(s)]
    n = len(toks)
    if n == 0:
        return []
    w = min(window, n)
    base = 1_000_003
    vals = [int(md5_hex(t)[:8], 16) for t in toks]
    pows = [pow(base, k, mod) for k in range(w)]
    hs = [
        sum(vals[i + j] * pows[w - 1 - j] for j in range(w)) % mod
        for i in range(n - w + 1)
    ]
    g = min(guarantee, len(hs))
    return sorted({min(hs[i : i + g]) for i in range(len(hs) - g + 1)})


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)
