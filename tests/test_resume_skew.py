"""Resumability (north_rule) + skew + dead-letter behavior of the pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_rag_spark.datagen import GIANT_MOD, build_spans, _h
from docling_rag_spark.pipeline import resume_filter, run_extraction
from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, schema=DOCUMENTS_SPANS_SCHEMA)


@pytest.fixture(scope="module")
def small_corpus(spark):
    rows = [(f"doc{i}", build_spans(f"doc{i}", f"word{i} the and of text {i}"))
            for i in range(12)]
    return _mk_docs(spark, rows)


def test_resume_anti_join_exactly_once(spark, small_corpus):
    # first run: everything processed
    _, _, lineage1 = run_extraction(small_corpus, run_id="r1")
    lineage1 = lineage1.cache()
    assert lineage1.filter(F.col("status") == "processed").count() == 12
    # second run with prior lineage → nothing to do
    todo = resume_filter(small_corpus, lineage1)
    assert todo.count() == 0
    # partial lineage (simulate a killed run that finished only 5 docs)
    partial = lineage1.limit(5)
    todo2 = resume_filter(small_corpus, partial)
    assert todo2.count() == 7
    # resumed run processes exactly the remainder; union is complete & disjoint
    _, _, lineage2 = run_extraction(todo2, run_id="r2")
    done2 = {r["doc_id"] for r in lineage2.collect()}
    done1 = {r["doc_id"] for r in partial.collect()}
    assert done1 | done2 == {f"doc{i}" for i in range(12)}
    assert not (done1 & done2)


def test_ingested_at_ignores_session_time_zone(spark, small_corpus):
    """The lineage stamp is the run_ts instant whatever the session time
    zone (extract_job builds its session without get_spark's UTC); a naive
    run_ts is read as UTC."""
    import datetime as dt

    run_ts = dt.datetime(2026, 1, 15, 12, 0, tzinfo=dt.timezone.utc)
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        for ts in (run_ts, run_ts.replace(tzinfo=None)):
            _, _, lin = run_extraction(small_corpus.limit(2), run_id="tz", run_ts=ts)
            got = {r[0] for r in lin.select(F.unix_timestamp("ingested_at")).collect()}
            assert got == {int(run_ts.timestamp())}, ts
    finally:
        spark.conf.set(key, prev)


def test_failed_docs_dead_lettered_not_fatal(spark):
    rows = [
        ("ok1", [{"kind": "text", "text": "hello world text", "media_ref": None, "offset": 0}]),
        ("bad1", [{"kind": "pdf", "text": "NOT A PDF", "media_ref": None, "offset": 0},
                  {"kind": "text", "text": "also present", "media_ref": None, "offset": 10}]),
    ]
    extracted, chunks, lineage = run_extraction(_mk_docs(spark, rows), run_id="dl")
    lin = {r["doc_id"]: r for r in lineage.collect()}
    assert lin["bad1"]["status"] == "failed"
    assert lin["bad1"]["error"] == "invalid minipdf payload"
    assert lin["ok1"]["status"] == "processed"
    # failed doc excluded from extracted output entirely (no partial docs)
    assert extracted.filter(F.col("doc_id") == "bad1").count() == 0
    assert extracted.filter(F.col("doc_id") == "ok1").count() == 1
    # resume skips the processed doc but retries the failed one
    todo = resume_filter(_mk_docs(spark, rows), lineage)
    assert [r["doc_id"] for r in todo.collect()] == ["bad1"]


def test_giant_doc_skew_spreads_across_partitions(spark):
    # find a giant doc id under the datagen rule
    giant_id = next(f"g{i}" for i in range(2000) if _h(f"g{i}") % GIANT_MOD == 0)
    rows = [(giant_id, build_spans(giant_id, "the quick brown fox and the hen"))]
    docs = _mk_docs(spark, rows)
    n_spans = docs.select(F.size("spans")).head()[0]
    assert n_spans > 200  # it IS a giant
    extracted, _, lineage = run_extraction(
        docs, run_id="skew", mode="spread", repartition_to=8
    )
    # one doc, hundreds of spans: the spread front end that run passed
    # through must run the kernel in >1 partition
    from docling_rag_spark.pipeline import extract_documents_spread

    raw = extract_documents_spread(docs, repartition_to=8)
    nparts = raw.select("partition_id").distinct().count()
    assert nparts > 1
    # and the output is still a correct dense order
    orders = [r["order"] for r in extracted.select("order").collect()]
    assert sorted(orders) == list(range(len(orders)))
    assert lineage.head()["n_blocks_out"] == len(orders)


def test_unordered_span_arrays_are_reordered(spark):
    # spans stored in scrambled array positions; offsets define the order
    spans = [
        {"kind": "text", "text": "third", "media_ref": None, "offset": 30},
        {"kind": "text", "text": "first part of doc", "media_ref": None, "offset": 0},
        {"kind": "image", "text": "", "media_ref": "img://m", "offset": 20},
    ]
    extracted, _, _ = run_extraction(_mk_docs(spark, [("d1", spans)]), run_id="o")
    got = [(r["order"], r["kind"], r["text"]) for r in
           extracted.orderBy("order").collect()]
    assert got == [(0, "text", "first part of doc"), (1, "image", ""),
                   (2, "text", "third")]


def test_modified_doc_reingest_predicate(spark):
    """E17 (reference is_file_modified, src/utils.py:141-147): a processed
    doc whose source modified_at exceeds its lineage ingested_at is
    re-ingested; unmodified processed docs stay skipped; unseen docs run."""
    import datetime as dt

    from pyspark.sql.types import StructField, StructType, TimestampType

    from docling_rag_spark.schemas import DOCUMENTS_SPANS_SCHEMA, LINEAGE_SCHEMA

    t_ing = dt.datetime(2026, 1, 1, 12, 0, 0)
    # copy: StructType.add mutates in place — never touch the shared schema
    schema = StructType(
        list(DOCUMENTS_SPANS_SCHEMA.fields)
        + [StructField("modified_at", TimestampType())]
    )
    span = [{"kind": "text", "text": "some words here", "media_ref": None, "offset": 0}]
    docs = spark.createDataFrame(
        [
            ("stale", span, t_ing - dt.timedelta(hours=1)),   # processed, older
            ("touched", span, t_ing + dt.timedelta(hours=1)),  # processed, newer
            ("brandnew", span, t_ing + dt.timedelta(hours=2)),  # no lineage
        ],
        schema=schema,
    )
    lineage = spark.createDataFrame(
        [
            ("r1", 0, "stale", "processed", None, 1, 1, t_ing),
            ("r1", 0, "touched", "processed", None, 1, 1, t_ing),
        ],
        schema=LINEAGE_SCHEMA,
    )
    todo = resume_filter(docs, lineage, modified_col="modified_at")
    assert {r["doc_id"] for r in todo.collect()} == {"touched", "brandnew"}
    # default (no modified_col): pure anti-join — touched stays skipped
    assert {r["doc_id"] for r in resume_filter(docs, lineage).collect()} == {
        "brandnew"
    }
    # null edges: a null modified_at is skipped like an unmodified doc; a
    # doc whose processed rows all lack ingested_at is re-ingested
    nulls = spark.createDataFrame(
        [("nomod", span, None), ("noing", span, t_ing)], schema=schema
    )
    nulls_lin = spark.createDataFrame(
        [
            ("r1", 0, "nomod", "processed", None, 1, 1, t_ing),
            ("r1", 0, "noing", "processed", None, 1, 1, None),
            ("r2", 0, "noing", "processed", None, 1, 1, None),
        ],
        schema=LINEAGE_SCHEMA,
    )
    got = resume_filter(nulls, nulls_lin, modified_col="modified_at").collect()
    assert [r["doc_id"] for r in got] == ["noing"]
    # integration: the re-ingest run extracts exactly those two docs
    todo2 = resume_filter(docs, lineage, modified_col="modified_at")
    ex, _, lin3 = run_extraction(todo2, run_id="r3")
    assert {r["doc_id"] for r in lin3.collect()} == {"touched", "brandnew"}
    assert {r["doc_id"] for r in ex.collect()} == {"touched", "brandnew"}


def test_auto_mode_picks_narrow_on_uniform_spread_on_giant(
    spark, tmp_path, monkeypatch
):
    """choose_extraction_mode: a uniform corpus stays narrow (spread would
    pay a payload shuffle for nothing); a corpus with one true giant doc
    (absolutely large AND far off the mean) flips to spread; and
    commit_extraction(mode='auto') commits output identical to the
    explicit mode's on both corpora."""
    from docling_rag_spark.pipeline import (
        AUTO_SKEW_MIN_SPANS,
        choose_extraction_mode,
        commit_extraction,
    )

    uniform = spark.createDataFrame(
        [
            (f"u{i}", build_spans(f"u{i}", "the quick brown fox and the hen"))
            for i in range(300, 320)
        ],
        schema=DOCUMENTS_SPANS_SCHEMA,
    )
    assert choose_extraction_mode(uniform) == "narrow"

    giant_spans = [
        {"kind": "text", "text": f"word {i}", "media_ref": None, "offset": i}
        for i in range(AUTO_SKEW_MIN_SPANS + 10)
    ]
    skewed = spark.createDataFrame(
        [("giant", giant_spans)]
        + [
            (f"u{i}", build_spans(f"u{i}", "the quick brown fox"))
            for i in range(300, 310)
        ],
        schema=DOCUMENTS_SPANS_SCHEMA,
    )
    assert choose_extraction_mode(skewed) == "spread"
    # over a parquet scan the probe reads the span kinds only (nested-schema
    # pruning), never the payloads
    skewed.write.parquet(str(tmp_path / "skewed"))
    scanned = spark.read.parquet(str(tmp_path / "skewed"))
    plans, collect = [], type(scanned).collect

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    monkeypatch.setattr(type(scanned), "collect", spy)
    assert choose_extraction_mode(scanned) == "spread"
    monkeypatch.undo()
    assert "ReadSchema: struct<spans:array<struct<kind:string>>>" in plans[0], plans

    # auto output ≡ the explicitly chosen mode's output, table by table
    for corpus, explicit in ((uniform, "narrow"), (skewed, "spread")):
        out = {m: str(tmp_path / explicit / m) for m in ("auto", explicit)}
        for mode, path in out.items():
            commit_extraction(spark, corpus, path, "auto", mode=mode)
        for name in ("extracted_spans", "chunks", "doc_metadata"):
            got, want = (
                sorted(map(tuple, spark.read.parquet(f"{p}/{name}").collect()))
                for p in out.values()
            )
            assert got and got == want, (explicit, name)
