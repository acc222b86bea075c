"""DuckDB-SQL mirrors of functions/text.py column expressions.

These fragment builders keep the oracle SQL and the Spark plans derived
from ONE spec (kernels/textutils.py constants are interpolated here), so a
spec change cannot silently diverge the two sides.
"""

from __future__ import annotations

from ..kernels.textutils import EN_STOPWORDS, LANG_MARKERS


def sql_list(items) -> str:
    return "[" + ", ".join(f"'{i}'" for i in items) + "]"


def tidy_sql(c: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace("
        f"{c}, '[\\r\\n]+|<!-- image -->', ' ', 'g'), '\\s+', ' ', 'g'))"
    )


def tokens_sql(c: str, lower: bool = False) -> str:
    t = tidy_sql(c)
    if lower:
        t = f"lower({t})"
    return f"(case when {t} = '' then []::varchar[] else string_split({t}, ' ') end)"


def token_count_sql(c: str) -> str:
    return f"len({tokens_sql(c)})"


def punct_ratio_sql(c: str) -> str:
    t = tidy_sql(c)
    return (
        f"(case when length({t}) = 0 then 0.0 else "
        f"(length({t}) - length(regexp_replace({t}, '[.,;:!?]', '', 'g')))"
        f"::double / length({t}) end)"
    )


def stopword_ratio_sql(c: str) -> str:
    toks = tokens_sql(c)
    sw = sql_list(sorted(EN_STOPWORDS))
    return (
        f"(case when len({toks}) = 0 then 0.0 else "
        f"len(list_filter({toks}, t -> list_contains({sw}, lower(t))))"
        f"::double / len({toks}) end)"
    )


def lang_hits_sql(c: str, lang: str) -> str:
    markers = sql_list(sorted(dict(LANG_MARKERS)[lang]))
    toks = tokens_sql(f"lower(substring({c}, 1, 500))")
    return f"len(list_filter({toks}, t -> list_contains({markers}, t)))"


def detect_language_sql(c: str) -> str:
    """Same tie-break semantics as detect_language_col: iterate languages in
    LANG_MARKERS order, keep strictly-greater hits; all-zero → 'en'."""
    hits = {lang: lang_hits_sql(c, lang) for lang, _ in LANG_MARKERS}
    langs = [lang for lang, _ in LANG_MARKERS]
    whens = []
    for i, lang in enumerate(langs):
        conds = []
        for j, other in enumerate(langs):
            if j < i:
                conds.append(f"h_{lang} > h_{other}")
            elif j > i:
                conds.append(f"h_{lang} >= h_{other}")
        conds.append(f"h_{lang} > 0")
        whens.append(f"when {' and '.join(conds)} then '{lang}'")
    case = f"(case {' '.join(whens)} else 'en' end)"
    # inline the hit expressions via a lateral-style struct
    for lang in langs:
        case = case.replace(f"h_{lang}", f"({hits[lang]})")
    return case


def shingles_sql(c: str, n: int = 3) -> str:
    toks = tokens_sql(c, lower=True)
    return (
        f"(case when len({toks}) < {n} then []::varchar[] else "
        f"list_distinct(list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))) end)"
    )


def chunk_id_sql(doc_id: str, idx: str, text: str) -> str:
    return f"md5({doc_id}::varchar || '_' || {idx}::varchar || '_' || {text})"
