"""Column-expression library (JVM-side, whole-stage-codegen friendly).

Every function here has an exact DuckDB mirror in
``docling_rag_spark/functions/duckdb_sql.py`` — the two are generated from
the same frozen spec (kernels/textutils.py) so the driver's oracle compare
is meaningful. No Python UDFs: these are pure Catalyst expressions.

Reference recipes reproduced:
- tidy: src/ingestion/document.py:113-114
- chunk id: src/ingestion/chunker.py:49
- language fallback-to-en: src/ingestion/document.py:212-218
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.textutils import EN_STOPWORDS, LANG_MARKERS

PUNCT_CLASS = r"[.,;:!?]"


def tidy_col(c: Column) -> Column:
    # one combined-pattern pass — the same rewrite the Python kernel
    # already uses (kernels/textutils._TIDY_RE, pinned equal to the
    # reference two-pass by the hypothesis property test): every maximal
    # run of whitespace/image-marker collapses to one space either way,
    # and Java's \s is the same ASCII class as the kernel's re.ASCII \s.
    # The DuckDB mirror (tidy_sql) keeps the reference two-pass form, so
    # every oracle row cross-checks this equivalence on real data.
    return F.trim(F.regexp_replace(c, r"(?:<!-- image -->|\s)+", " "))


def tokens_col(c: Column, lower: bool = False) -> Column:
    t = tidy_col(c)
    if lower:
        t = F.lower(t)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, " ")
    )


def token_count_col(c: Column) -> Column:
    return F.size(tokens_col(c))


def punct_ratio_col(c: Column) -> Column:
    t = tidy_col(c)
    n = F.length(t)
    punct = n - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def stopword_ratio_col(c: Column) -> Column:
    toks = tokens_col(c)
    sw_arr = F.array(*[F.lit(w) for w in sorted(EN_STOPWORDS)])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, F.lower(t))))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(hits / F.size(toks))


def detect_language_col(c: Column) -> Column:
    """Most marker hits wins; ties → earlier language in LANG_MARKERS;
    all-zero → 'en'.

    Shape (round 6): ONE tokenization and ONE interpreted pass — an
    F.aggregate fold whose accumulator carries all L hit counts as a
    struct, with the argmax computed INSIDE the finish lambda (referencing
    acc fields there cannot be re-inlined by CollapseProject — computing
    the argmax OUTSIDE the fold would duplicate the whole fold per struct
    field, the BM25 trap). Replaces the round-4 per-language form (L
    tokenizations + L interpreted F.filter passes per row): measured
    interleaved A/B at sf0.1, fold 2.0-3.7s vs per-language 2.9-7.6s,
    fold faster in every paired rep, identical outputs. Tie-break is
    unchanged: struct compare on (hits, -index) so the EARLIER language
    wins exact ties; all-zero → 'en'."""
    langs = [lang for lang, _ in LANG_MARKERS]
    arrs = {
        lg: F.array(*[F.lit(m) for m in sorted(dict(LANG_MARKERS)[lg])])
        for lg in langs
    }
    toks = tokens_col(F.lower(F.substring(c, 1, 500)))
    init = F.struct(*[F.lit(0).alias(f"h_{lg}") for lg in langs])

    def step(acc: Column, t: Column) -> Column:
        return F.struct(
            *[
                (
                    acc[f"h_{lg}"]
                    + F.when(F.array_contains(arrs[lg], t), 1).otherwise(0)
                ).alias(f"h_{lg}")
                for lg in langs
            ]
        )

    def finish(acc: Column) -> Column:
        entries = [
            F.struct(
                acc[f"h_{lg}"].alias("hits"),
                F.lit(-i).alias("prio"),
                F.lit(lg).alias("lang"),
            )
            for i, lg in enumerate(langs)
        ]
        best = F.array_max(F.array(*entries))
        return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("en"))

    # NULL text → NULL token array → NULL fold: coalesce to the spec's
    # 'en' fallback (the DuckDB mirror and the pre-fold form both return
    # 'en' there — self-review-caught engine divergence)
    return F.coalesce(F.aggregate(toks, init, step, finish), F.lit("en"))


def shingles_col(c: Column, n: int = 3) -> Column:
    """Distinct lowercase word n-gram shingles (kernels.textutils.shingles)."""
    toks = tokens_col(c, lower=True)
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
    )


def chunk_id_col(doc_id: Column, idx: Column, text: Column) -> Column:
    """md5('{doc_id}_{idx}_{text}') — exact reference recipe
    (src/ingestion/chunker.py:49)."""
    return F.md5(F.concat_ws("_", doc_id.cast("string"), idx.cast("string"), text))
