"""tools/dump_plans.py rewrites only the PLANS.md sections it builds."""

from __future__ import annotations

from pathlib import Path

from tools.dump_plans import splice

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
