"""Input-table sources.

The production source is an Iceberg table of shape `input_hint`
(BASELINE.json:15); in this sandbox (no Iceberg catalog jars, no network)
we read/write the same shape as parquet and derive the corpus
deterministically from the driver's documents.parquet — distributed, via
``mapInPandas`` (each doc's spans are a pure function of (doc_id, text),
docling_rag_spark/datagen.py), so corpus construction itself scales.

At 100 TB the only change is ``spark.read.format("iceberg").load(tbl)`` /
``df.writeTo(tbl).append()``; everything downstream is identical.
Reference analog of discovery/scan: src/utils.py:121-139 (S1/S2).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from .. import artifacts
from ..datagen import build_spans
from ..schemas import DOCUMENTS_SPANS_SCHEMA

if TYPE_CHECKING:
    import pandas as pd

_SPANS_DDL = (
    "doc_id string, spans array<struct<kind string, text string, "
    "media_ref string, offset int>>"
)


def _derive_kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype(str),
                "spans": [
                    build_spans(str(d), t or "")
                    for d, t in zip(pdf["doc_id"], pdf["text"])
                ],
            }
        )


# Reference exclude-pattern set (src/utils.py:112,117-118) — fnmatch globs
# applied to the file NAME during discovery (P2). For table-model inputs the
# filter applies to a path column before extraction.
EXCLUDE_PATTERNS = (
    ".*", "__*", "*.tmp", "*.temp", "~*", "*.bak", "*.backup",
    "Thumbs.db", ".DS_Store",
)


def _glob_to_regex(glob: str) -> str:
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append("\\" + ch if ch in r".^$+{}[]|()\\" else ch)
    return "".join(out)


def exclude_patterns_filter(df: DataFrame, path_col: str = "path") -> DataFrame:
    """Drop rows whose file NAME matches any reference exclude glob
    (reference discover_files, src/utils.py:112,117-118) — one compiled
    rlike over the basename, pushed into the scan by Catalyst."""
    from pyspark.sql import functions as F

    name = F.element_at(F.split(F.col(path_col), "/"), -1)
    rx = "^(" + "|".join(_glob_to_regex(g) for g in EXCLUDE_PATTERNS) + ")$"
    return df.filter(~name.rlike(rx))


def interleaved_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver documents.parquet → deterministic interleaved spans table."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select("doc_id", "text").mapInPandas(_derive_kernel, schema=_SPANS_DDL)


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS_SPANS_SCHEMA).parquet(path)


def corpus_for_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived corpus for a testdata sf dir, built once and read back as
    an artifact-store memo (the engine's input table at this sf)."""
    return artifacts.parquet(
        spark, "corpus", sf_dir, lambda: interleaved_corpus(spark, sf_dir)
    )
