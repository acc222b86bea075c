"""The exactly-once sink protocol over every path form Spark accepts.

Every probe, rename, delete and marker read/write in sources/sinks.py goes
through the one Hadoop FileSystem adapter (sinks._HadoopFS), so a path
resolves as Spark's own reader and writer resolve it. The crash-window,
idempotence, delete_docs and marker cases below run over a bare path and
over a ``file://`` URI; the regression test at the end points
``fs.defaultFS`` at a ``viewfs://`` mount, the way a cluster whose default
filesystem is HDFS resolves a bare ``--output``.
"""

from __future__ import annotations

import os
import sys
import uuid

import pytest

from docling_rag_spark.sources.sinks import (
    _HadoopFS,
    _recover_swap,
    delete_docs,
    has_table,
    idempotent_append,
    marker_read,
    marker_remove,
    marker_write,
    replace,
)


def _uri(p) -> str:
    return "file://" + str(p)


@pytest.fixture(params=["bare", "file_uri"])
def as_path(request):
    """Turn a local ``tmp_path`` location into the path form under test."""
    return str if request.param == "bare" else _uri


def test_idempotent_append(spark, tmp_path, as_path):
    path = as_path(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    idempotent_append(spark, df, path)
    idempotent_append(spark, df, path)  # replay: same batch twice
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "id int, v string")
    idempotent_append(spark, df2, path)
    got = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # the probe sees the table as non-empty
    assert has_table(path)
    assert not has_table(as_path(tmp_path / "missing"))


def test_append_under_temporary_named_root(spark, tmp_path, as_path):
    """Only names BELOW the table root are hidden from the probe: a root
    whose own path contains ``_temporary`` is still a table, and a second
    append keeps the first batch."""
    path = as_path(tmp_path / "run_temporary" / "out")
    for v in (1, 2):
        idempotent_append(spark, spark.createDataFrame([(v,)], "id int"), path)
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == [1, 2]


def test_probe_ignores_files_spark_does_not_read(spark, tmp_path, as_path):
    """A table whose only parquet file sits under ``_temporary/`` (an
    uncommitted task attempt) reads as empty to Spark, and to the probe."""
    spark.createDataFrame([(1,)], "id int").coalesce(1).write.parquet(
        str(tmp_path / "src")
    )
    (part,) = (tmp_path / "src").glob("*.parquet")
    attempt = tmp_path / "t" / "_temporary" / "0"
    attempt.mkdir(parents=True)
    part.rename(attempt / part.name)
    assert not has_table(as_path(tmp_path / "t"))
    # a partition directory counts, even one whose column starts with "_"
    (tmp_path / "t" / "_k=1").mkdir()
    (attempt / part.name).rename(tmp_path / "t" / "_k=1" / part.name)
    assert has_table(as_path(tmp_path / "t"))
    assert spark.read.parquet(as_path(tmp_path / "t")).count() == 1


def test_append_joins_existing_keys_without_dedup(spark, tmp_path, monkeypatch):
    """Appending into a non-empty table anti-joins the table's keys as they
    are: the written frame's one aggregate is the batch's own key dedup."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "t")
    schema = "id int, v string"
    idempotent_append(spark, spark.createDataFrame([(1, "a")], schema), path)
    written, parquet = [], DataFrameWriter.parquet

    def spy(writer, *args, **kwargs):
        written.append(writer._df)
        return parquet(writer, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    batch = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], schema)
    idempotent_append(spark, batch, path)
    monkeypatch.undo()
    (df,) = written
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1, plan
    assert plan.count("Join LeftAnti") == 1, plan
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == [1, 2]


def _seed_swap_state(spark, base):
    path = base + "/t"
    spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "doc_id string, v int"
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [("a", 1), ("c", 3)], "doc_id string, v int"
    ).coalesce(1).write.parquet(path + ".tmp")
    return path, path + ".tmp"


def _rows(spark, path):
    return sorted(
        (r["doc_id"], r["v"]) for r in spark.read.parquet(path).collect()
    )


def test_swap_crash_windows(spark, tmp_path, as_path):
    """The two crash windows whose recovery depends on FS renames actually
    executing: (1) crash between the backup rename and the tmp adoption —
    the tmp is the only complete copy and must be adopted; (2) '.old'
    present with an INCOMPLETE tmp — backup restored."""
    fs = _HadoopFS(as_path(tmp_path))

    path, tmp = _seed_swap_state(spark, as_path(tmp_path / "w1"))
    fs.rename(path, path + ".old")  # swap step 1 done, crash before step 2
    _recover_swap(path)
    assert _rows(spark, path) == [("a", 1), ("c", 3)]
    assert not fs.exists(path + ".old") and not fs.exists(tmp)

    path, tmp = _seed_swap_state(spark, as_path(tmp_path / "w2"))
    fs.rename(path, path + ".old")
    fs.delete(tmp + "/_SUCCESS")  # tmp incomplete
    _recover_swap(path)
    assert _rows(spark, path) == [("a", 1), ("b", 2), ("c", 3)]
    assert not fs.exists(path + ".old") and not fs.exists(tmp)


def test_delete_docs(spark, tmp_path, as_path):
    path, _ = _seed_swap_state(spark, as_path(tmp_path / "d"))
    delete_docs(spark, path, spark.createDataFrame([("b",)], "doc_id string"))
    assert _rows(spark, path) == [("a", 1), ("c", 3)]


def test_replace_with_files(spark, tmp_path, as_path):
    """replace() publishes the table and its small files with one rename;
    a crash left after its .tmp write heals on the next entry: before the
    first rename the tmp is discarded, after it the tmp (with its file) is
    adopted."""
    fs = _HadoopFS(as_path(tmp_path))
    path = as_path(tmp_path / "r")
    schema = "doc_id string, v int"
    replace(spark.createDataFrame([("a", 1)], schema), path, files={"_N": "1"})
    assert _rows(spark, path) == [("a", 1)] and marker_read(path + "/_N") == "1"
    two = spark.createDataFrame([("b", 2), ("c", 3)], schema)
    replace(two, path, files={"_N": "2"})
    assert _rows(spark, path) == [("b", 2), ("c", 3)] and marker_read(path + "/_N") == "2"

    def crash_after_tmp_write(v):
        spark.createDataFrame([("d", v)], schema).write.parquet(path + ".tmp")
        marker_write(path + ".tmp/_N", str(v))

    crash_after_tmp_write(9)  # no rename yet: the target stays
    assert has_table(path)
    assert _rows(spark, path) == [("b", 2), ("c", 3)] and marker_read(path + "/_N") == "2"
    crash_after_tmp_write(4)
    fs.rename(path, path + ".old")  # first rename done: the tmp is the new table
    assert has_table(path)
    assert _rows(spark, path) == [("d", 4)] and marker_read(path + "/_N") == "4"
    assert not fs.exists(path + ".old") and not fs.exists(path + ".tmp")


def test_marker_roundtrip(spark, tmp_path, as_path):
    m = as_path(tmp_path / "m" / "_MARK")
    os.makedirs(tmp_path / "m")
    assert marker_read(m) is None
    marker_write(m, "1234")
    assert marker_read(m) == "1234"
    assert (tmp_path / "m" / "_MARK").read_text() == "1234"  # on local disk
    marker_remove(m)
    assert marker_read(m) is None
    marker_remove(m)  # idempotent


def test_hadoop_rename_guards(spark, tmp_path):
    """Hadoop rename onto an existing dir nests src INSIDE it (mv
    semantics) — the adapter must refuse instead; and a False return
    (missing src) must raise, not silently no-op."""
    fs = _HadoopFS(_uri(tmp_path))
    os.makedirs(tmp_path / "src")
    os.makedirs(tmp_path / "dst")
    with pytest.raises(OSError, match="target already exists"):
        fs.rename(_uri(tmp_path / "src"), _uri(tmp_path / "dst"))
    with pytest.raises(OSError, match="rename failed"):
        fs.rename(_uri(tmp_path / "nope"), _uri(tmp_path / "dst2"))


def test_bare_path_resolves_against_default_fs(spark, tmp_path):
    """A bare path is resolved against ``fs.defaultFS``, as Spark resolves
    it. With the default filesystem on a ``viewfs://`` mount of tmp_path
    (a cluster's ``hdfs://`` stand-in), two appends to one bare absolute
    path keep both batches, and the probes see what Spark wrote there —
    probing the driver's local disk instead reported "empty" and the
    second append overwrote the first."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    # a unique mount table: Hadoop's FileSystem cache is keyed on the URI
    # authority, so a reused name could serve another test's mount
    table = f"mt{uuid.uuid4().hex}"
    link = f"fs.viewfs.mounttable.{table}.link./{table}"
    default_fs = conf.get("fs.defaultFS")
    conf.set(link, _uri(tmp_path))
    conf.set("fs.defaultFS", f"viewfs://{table}/")
    try:
        out = f"/{table}/out"
        for v in (1, 2):
            batch = spark.createDataFrame([(v,)], "id int")
            idempotent_append(spark, batch, out)
        assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == [1, 2]
        assert has_table(out)
        assert marker_read(out + "/_SUCCESS") == ""  # Spark's commit marker
        assert marker_read(out + "/_MISSING") is None
    finally:
        conf.set("fs.defaultFS", default_fs)
        conf.unset(link)
    assert (tmp_path / "out" / "_SUCCESS").is_file()  # the mounted dir
    assert not os.path.exists(out)  # never the driver's local disk


def test_select_job_pack_and_resume_over_file_uri(spark, tmp_path, monkeypatch):
    """The deployable job end-to-end with --output file://...: first run
    commits + packs, second (resume, no new docs) must SKIP the repack via
    the marker read through the Hadoop adapter."""
    import jobs.select_job as J
    from docling_rag_spark.datagen import build_spans
    from docling_rag_spark.pipeline import run_extraction
    from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA

    rows = [
        (
            str(i),
            build_spans(
                str(i),
                f"word{i} stories of the old town and the river {i} "
                f"keep the lights on and the doors open number {i}",
            ),
        )
        for i in range(96, 108)
    ]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SPANS_SCHEMA)
    _, chunks, _ = run_extraction(docs, run_id="mk-uri")
    inp = str(tmp_path / "chunks.parquet")
    chunks.write.parquet(inp)

    out = _uri(tmp_path / "out")
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    for args in (
        ["--input", inp, "--output", out, "--run-id", "r1", "--pack"],
        ["--input", inp, "--output", out, "--run-id", "r2", "--pack",
         "--resume"],
    ):
        monkeypatch.setattr(sys, "argv", ["select_job.py"] + args)
        J.main()

    sel = spark.read.parquet(out + "/selected_chunks")
    assert sel.count() > 0
    packed = spark.read.parquet(out + "/packed_sequences")
    assert packed.count() > 0
    # marker written through the swap, readable through the adapter
    assert marker_read(out + "/packed_sequences/_PACKED_N") is not None
    # resume appended nothing and left exactly one lineage row per doc
    lin = spark.read.parquet(out + "/selection_lineage")
    assert lin.count() == lin.select("doc_id").distinct().count()
