"""jobs/extract_job.py — the spark-submit entry point: a clean run, a
no-op resume, a modified-document re-ingest and the interrupted-marker
guard, each through main()."""

from __future__ import annotations

import datetime as dt
import os
import re
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from docling_rag_spark.datagen import build_spans
from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA
from docling_rag_spark.sources.sinks import marker_read, marker_write

OUTPUTS = ("extracted_spans", "chunks", "doc_metadata", "lineage")
# copy: StructType.add mutates in place — never touch the shared schema
SCHEMA = StructType(
    list(DOCUMENTS_SPANS_SCHEMA.fields) + [StructField("modified_at", TimestampType())]
)
OLD = dt.datetime(2020, 1, 1)


def _text(i: int, version: str) -> str:
    return (f"{version} stories of the old town and the river {i} keep the "
            f"lights on and the doors open for document number {i}")


def _write_input(spark, path, modified: dict[str, dt.datetime] | None = None):
    modified = modified or {}
    rows = []
    for i in range(8):
        d = f"x{i}"
        version = "second" if d in modified else "first"
        rows.append((d, build_spans(d, _text(i, version)), modified.get(d, OLD)))
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)


def _run_job(monkeypatch, capsys, spark, argv) -> int:
    """Run main() with ``argv``; returns the printed docs_this_run."""
    import jobs.extract_job as J

    monkeypatch.setattr(sys, "argv", ["extract_job.py"] + argv)
    # the job's spark.stop() must not kill the shared test session
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    J.main()
    return int(re.search(r"docs_this_run=(\d+)", capsys.readouterr().out)[1])


def _counts(spark, out):
    return {o: spark.read.parquet(os.path.join(out, o)).count() for o in OUTPUTS}


def test_extract_job_runs_resumes_and_reingests(spark, tmp_path, monkeypatch, capsys):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write_input(spark, inp)
    base = ["--input", inp, "--output", out]

    # clean run: every document processed, every output written
    assert _run_job(monkeypatch, capsys, spark, base + ["--run-id", "r1"]) == 8
    first = _counts(spark, out)
    assert first["lineage"] == first["doc_metadata"] == 8
    assert first["extracted_spans"] > 0 and first["chunks"] > 0

    # --resume rerun: nothing to do, nothing appended
    assert _run_job(monkeypatch, capsys, spark, base + ["--resume", "--run-id", "r2"]) == 0
    assert _counts(spark, out) == first

    # x3 changes after its ingest: re-ingest replaces its rows, no duplicates
    _write_input(spark, inp, {"x3": dt.datetime.now() + dt.timedelta(days=1)})
    argv = base + ["--resume", "--reingest-modified", "--run-id", "r3"]
    assert _run_job(monkeypatch, capsys, spark, argv) == 1
    assert marker_read(os.path.join(out, "_reingest_pending")) is None
    spans = spark.read.parquet(os.path.join(out, "extracted_spans"))
    x3 = [r["text"] for r in spans.filter(F.col("doc_id") == "x3").collect()]
    assert x3 and all("first" not in t for t in x3)
    assert any("second" in t for t in x3)
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    x3_chunks = [r["text"] for r in chunks.filter(F.col("doc_id") == "x3").collect()]
    assert x3_chunks and all("first" not in t for t in x3_chunks)
    assert spans.count() == spans.select("doc_id", "order").distinct().count()
    meta = spark.read.parquet(os.path.join(out, "doc_metadata"))
    assert meta.count() == 8 and meta.filter(F.col("doc_id") == "x3").count() == 1
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert [r["doc_id"] for r in lineage.filter(F.col("run_id") == "r3").collect()] == ["x3"]


def test_extract_job_refuses_resume_after_interrupted_reingest(
    spark, tmp_path, monkeypatch, capsys
):
    """A left-over _reingest_pending marker means a replace was cut short:
    a run without --reingest-modified must stop instead of skipping the
    documents whose rows were already deleted."""
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write_input(spark, inp)
    base = ["--input", inp, "--output", out, "--resume"]
    _run_job(monkeypatch, capsys, spark, base + ["--run-id", "r1"])
    marker_write(os.path.join(out, "_reingest_pending"))
    with pytest.raises(SystemExit, match="interrupted mid-replace"):
        _run_job(monkeypatch, capsys, spark, base + ["--run-id", "r2"])
    # finishing the re-ingest converges and clears the marker
    _run_job(monkeypatch, capsys, spark, base + ["--reingest-modified", "--run-id", "r3"])
    assert marker_read(os.path.join(out, "_reingest_pending")) is None


def test_extract_job_embed_adds_only_the_embedding(spark, tmp_path, monkeypatch, capsys):
    """--embed: chunks carry an EMBED_DIM float vector; every other column
    and output is the run without it."""
    from docling_rag_spark.operators.embed import EMBED_DIM

    inp = str(tmp_path / "in")
    _write_input(spark, inp)
    outs = {}
    for flag in ([], ["--embed"]):
        outs[bool(flag)] = out = str(tmp_path / f"out{len(flag)}")
        argv = ["--input", inp, "--output", out, "--run-id", "r1"] + flag
        assert _run_job(monkeypatch, capsys, spark, argv) == 8
    chunks = spark.read.parquet(os.path.join(outs[True], "chunks"))
    assert dict(chunks.dtypes)["embedding"] == "array<float>"
    assert {len(r["embedding"]) for r in chunks.collect()} == {EMBED_DIM}

    def rows(out, name):
        df = spark.read.parquet(os.path.join(out, name)).drop("embedding", "ingested_at")
        return sorted(map(tuple, df.select(sorted(df.columns)).collect()), key=repr)

    for name in OUTPUTS:
        assert rows(outs[False], name) == rows(outs[True], name), name
