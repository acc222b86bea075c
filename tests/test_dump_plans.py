"""tools/dump_plans.py rewrites only the PLANS.md sections it builds."""

from __future__ import annotations

from pathlib import Path

from tools.dump_plans import REPO, kept_lines, splice

OLD = """# PLANS

intro

## extract_narrow

old plan
```
## inside a fence, not a heading
```

## pack_sequences (round 5)

hand notes

## knn_bruteforce

old knn
"""


def test_splice_replaces_built_sections_and_keeps_hand_sections():
    built = {
        "extract_narrow": "## extract_narrow\n\nnew plan\n\n",
        "knn_bruteforce": "## knn_bruteforce\n\nnew knn\n\n",
        "text_gopher_filters": "## text_gopher_filters\n\nnew gopher\n\n",
    }
    assert splice(OLD, built) == """# PLANS

intro

## extract_narrow

new plan

## pack_sequences (round 5)

hand notes

## knn_bruteforce

new knn

## text_gopher_filters

new gopher

"""


def test_splice_without_built_sections_keeps_plans_md():
    text = (Path(__file__).resolve().parent.parent / "PLANS.md").read_text()
    assert splice(text, {}) == text


def test_kept_lines_do_not_carry_the_memo_digests(monkeypatch):
    """Two package versions (two code digests) on two hosts (two source
    fingerprints) dump identical lines."""
    from docling_rag_spark import artifacts

    got = []
    for code, fp in (("5dacb0b593", "01fc79b729"), ("0123456789", "2ce9931566")):
        monkeypatch.setattr(artifacts, "_code_hash", lambda code=code: code)
        details = (
            "(1) Scan parquet\n"
            "Location: InMemoryFileIndex "
            f"[file:{REPO}/data/corpus_{code}_sf0.001_{fp}.parquet]\n"
            "Output [2]: [doc_id#1, spans#2]\n"
            "ReadSchema: struct<doc_id:string>\n"
        )
        got.append(kept_lines(details))
    assert got[0] == got[1] == [
        "Location: InMemoryFileIndex [file:data/corpus_<code>_sf0.001_<fp>.parquet]",
        "ReadSchema: struct<doc_id:string>",
    ]
