"""Streaming ingest exactly-once (checkpoint resume) + idempotent sinks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from docling_rag_spark.datagen import build_spans
from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA
from docling_rag_spark.sources.sinks import idempotent_append
from docling_rag_spark.streaming.ingest import stream_ingest


def _write_batch(spark, path, ids):
    rows = [(d, build_spans(d, f"some text for {d} the and of")) for d in ids]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SPANS_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def test_stream_ingest_exactly_once(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _write_batch(spark, inp, [f"s{i}" for i in range(4)])
    stream_ingest(spark, inp, out)
    chunks1 = spark.read.parquet(os.path.join(out, "chunks"))
    docs1 = {r["doc_id"] for r in chunks1.select("doc_id").distinct().collect()}
    assert docs1 == {f"s{i}" for i in range(4)}

    # re-run with NO new files → checkpoint prevents reprocessing
    stream_ingest(spark, inp, out)
    assert spark.read.parquet(os.path.join(out, "chunks")).count() == chunks1.count()

    # new files arrive → only they are processed
    _write_batch(spark, inp, ["s4", "s5"])
    stream_ingest(spark, inp, out)
    chunks2 = spark.read.parquet(os.path.join(out, "chunks"))
    docs2 = {r["doc_id"] for r in chunks2.select("doc_id").distinct().collect()}
    assert docs2 == {f"s{i}" for i in range(6)}
    # no duplicate chunk ids
    assert chunks2.count() == chunks2.select("id").distinct().count()


def test_stream_ingest_releases_batch_caches(spark, tmp_path):
    """Each micro-batch unpersists what its run_extraction cached: a long
    stream does not accumulate persisted RDDs."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _write_batch(spark, inp, ["r0", "r1"])
    _write_batch(spark, inp, ["r2", "r3"])
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    stream_ingest(spark, inp, out, max_files_per_trigger=1)
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.select("run_id").distinct().count() == 2  # two micro-batches
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= before


def test_idempotent_append(spark, tmp_path):
    path = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], schema="id string, v int"
    )
    idempotent_append(spark, df, path)
    idempotent_append(spark, df, path)  # same batch twice
    got = spark.read.parquet(path)
    assert got.count() == 2
    df2 = spark.createDataFrame([("b", 9), ("c", 3)], schema="id string, v int")
    idempotent_append(spark, df2, path)
    got = spark.read.parquet(path).orderBy("id").collect()
    assert [(r["id"], r["v"]) for r in got] == [("a", 1), ("b", 2), ("c", 3)]


def test_idempotent_append_partial_target_not_overwritten(spark, tmp_path):
    """A target holding parquet WITHOUT a _SUCCESS marker (partially
    committed job / foreign writer) must be anti-joined against, never
    silently overwritten (ADVICE r1)."""
    import os

    from docling_rag_spark.sources.sinks import idempotent_append

    path = str(tmp_path / "t")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    first.coalesce(1).write.parquet(path)
    os.remove(os.path.join(path, "_SUCCESS"))  # simulate partial commit
    second = spark.createDataFrame([(2, "b"), (3, "c")], "id int, v string")
    idempotent_append(spark, second, path, key="id")
    got = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]  # old rows survive, no dups


def _rows(spark, path):
    return sorted((r["doc_id"], r["v"]) for r in spark.read.parquet(path).collect())


def _seed_swap_state(spark, tmp_path):
    """Target holds {a,b,c}; a delete_docs(b) rewrite produced a COMPLETE
    tmp {a,c}. Returns (path, tmp)."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "doc_id string, v int"
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [("a", 1), ("c", 3)], "doc_id string, v int"
    ).coalesce(1).write.parquet(path + ".tmp")
    return path, path + ".tmp"


def test_swap_crash_after_backup_rename(spark, tmp_path):
    """Crash between rename(path→.old) and rename(tmp→path): the ONLY
    complete copy of the post-delete data is the tmp — recovery must adopt
    it, never discard it (ADVICE r2 medium)."""
    from docling_rag_spark.sources.sinks import _recover_swap

    path, tmp = _seed_swap_state(spark, tmp_path)
    os.rename(path, path + ".old")  # swap step 1 done, crash before step 2
    _recover_swap(path)
    assert _rows(spark, path) == [("a", 1), ("c", 3)]
    assert not os.path.exists(path + ".old") and not os.path.exists(tmp)


def test_swap_crash_before_swap_started(spark, tmp_path):
    """Crash after the tmp write but before any rename: target intact,
    tmp is an abandoned rewrite → discarded (the delete never happened)."""
    from docling_rag_spark.sources.sinks import _recover_swap

    path, tmp = _seed_swap_state(spark, tmp_path)
    _recover_swap(path)
    assert _rows(spark, path) == [("a", 1), ("b", 2), ("c", 3)]
    assert not os.path.exists(tmp)


def test_swap_crash_during_old_cleanup(spark, tmp_path):
    """Crash mid-rmtree of '.old' after a completed swap: target already
    holds the new data; recovery just finishes the cleanup."""
    from docling_rag_spark.sources.sinks import _recover_swap

    path, tmp = _seed_swap_state(spark, tmp_path)
    os.rename(path, path + ".old")
    os.rename(tmp, path)
    # simulate partial rmtree: drop one file from .old
    for f in os.listdir(path + ".old"):
        if f.endswith(".parquet"):
            os.remove(os.path.join(path + ".old", f))
            break
    _recover_swap(path)
    assert _rows(spark, path) == [("a", 1), ("c", 3)]
    assert not os.path.exists(path + ".old")


def test_swap_crash_incomplete_tmp_restores_backup(spark, tmp_path):
    """'.old' exists, target gone, tmp INCOMPLETE (no _SUCCESS): restore the
    backup — never leave the table missing or partial."""
    from docling_rag_spark.sources.sinks import _recover_swap

    path, tmp = _seed_swap_state(spark, tmp_path)
    os.rename(path, path + ".old")
    os.remove(os.path.join(tmp, "_SUCCESS"))
    _recover_swap(path)
    assert _rows(spark, path) == [("a", 1), ("b", 2), ("c", 3)]
    assert not os.path.exists(path + ".old") and not os.path.exists(tmp)


def test_delete_docs_end_to_end_after_recovery(spark, tmp_path):
    """delete_docs on a table left in the mid-swap crash state works: heals
    first, then applies the new delete."""
    from docling_rag_spark.sources.sinks import delete_docs

    path, tmp = _seed_swap_state(spark, tmp_path)
    os.rename(path, path + ".old")  # crashed mid-swap of the b-delete
    delete_docs(spark, path, spark.createDataFrame([("c",)], "doc_id string"))
    assert _rows(spark, path) == [("a", 1)]


def test_iceberg_path_degrades_gracefully(spark, tmp_path):
    """Without Iceberg runtime jars (this sandbox), the iceberg_table knob
    must fall through to the parquet protocol — same rows either way. With
    jars present the same call issues MERGE INTO / DELETE FROM instead."""
    from docling_rag_spark.sources.sinks import (
        delete_docs,
        iceberg_available,
        idempotent_append,
    )

    assert iceberg_available(spark) is False  # sandbox has no jars
    path = str(tmp_path / "t")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int")
    idempotent_append(spark, df, path, iceberg_table="cat.db.chunks")
    idempotent_append(spark, df, path, iceberg_table="cat.db.chunks")
    assert spark.read.parquet(path).count() == 2
    ids = spark.createDataFrame([("a",)], "doc_id string")
    df2 = spark.createDataFrame([("a", "x"), ("b", "y")], "doc_id string, v string")
    p2 = str(tmp_path / "d")
    df2.coalesce(1).write.parquet(p2)
    delete_docs(spark, p2, ids, iceberg_table="cat.db.docs")
    assert [r["doc_id"] for r in spark.read.parquet(p2).collect()] == ["b"]
