"""Tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen, metrics  # noqa: E402
from perfbench.probe import kernel_probe  # noqa: E402
from perfbench.trace import LayerStats, Spans, event_log_conf, parse_event_log  # noqa: E402


def _snapshot(c: gen.Corpus):
    return [(d["doc_id"], d["spans"]) for d in c.docs], sorted(c.planted)


def test_generator_is_deterministic_per_seed():
    a = gen.documents(7, 300, "d") + gen.skew_giants(7, 2, 600)
    b = gen.documents(7, 300, "d") + gen.skew_giants(7, 2, 600)
    assert _snapshot(a) == _snapshot(b)
    c = gen.documents(8, 300, "d") + gen.skew_giants(8, 2, 600)
    assert not a.ids & c.ids
    # the seed moves identities and content, never the composition
    for corpus in (a, c):
        assert len(corpus.docs) == 302
        assert len(corpus.planted) == round(300 * gen.PLANTED_SHARE)
        assert sum(gen._is_natural_giant(i) for i in corpus.ids) == round(300 / gen.GIANT_MOD)
        assert all(len(d["spans"]) >= 600 for d in corpus.docs if "giant" in d["doc_id"])


def test_curate_documents_are_deterministic_per_seed():
    a = gen.curate_documents(7, 200, 8, 5, 2)
    assert a.equals(gen.curate_documents(7, 200, 8, 5, 2))
    b = gen.curate_documents(8, 200, 8, 5, 2)
    assert a.schema == b.schema == gen.DOCUMENTS_SCHEMA
    assert a["text"].to_pylist() != b["text"].to_pylist()
    # the seed moves texts and ids, never the near-duplicate graph: exactly
    # the planted chains are connected, through the query oracle's own pairs
    import duckdb
    from docling_rag_spark.operators.dedup import MINHASH_LSH_SQL

    for t in (a, b):
        assert t["doc_id"].to_pylist() == list(range(200))
        con = duckdb.connect()
        con.register("documents", t)
        pairs = [(x, y) for x, y, _ in con.execute(MINHASH_LSH_SQL).fetchall()]
        sizes = Counter(c for _, c in checks._min_reachable(list(range(200)), pairs))
        assert sorted(n for n in sizes.values() if n > 1) == [5] * 8


def test_min_reachable_and_row_comparison():
    assert checks._min_reachable([1, 2, 3, 4, 5], [(4, 5), (2, 4)]) == [
        (1, 1), (2, 2), (3, 3), (4, 2), (5, 2)]
    assert checks._same_rows([(1, "a", 0.1 + 0.2)], [(1, "a", 0.3)])
    assert not checks._same_rows([(1, "a", 0.31)], [(1, "a", 0.3)])
    assert not checks._same_rows([(1, "a", 0.3)], [(1, "a", 0.3), (2, "b", 0.1)])


def test_planted_docs_carry_one_malformed_pdf_span():
    c = gen.documents(3, 400, "d")
    for d in c.docs:
        bad = [s for s in d["spans"] if s["text"] == gen.MALFORMED_PDF]
        assert len(bad) == (d["doc_id"] in c.planted)


def test_kernel_probe_counts_repeat_exactly():
    a = kernel_probe(gen.documents(5, 200, "d"), 5)
    b = kernel_probe(gen.documents(5, 200, "d"), 5)
    assert a["blocks_per_span"] == b["blocks_per_span"] > 0


def test_metric_names_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    setup = {"session_s": 1.0, "inputs_s": 0.1, "warmup_s": 2.0}
    e2e = metrics.end_to_end(setup, [2.0, 3.0], 100, 700, 1)
    assert e2e.keys() == metrics.END_TO_END.keys()
    probe = dict.fromkeys(
        ("html_us_per_span", "html_us_per_kb", "html_p99_us", "pdf_us_per_span",
         "pdf_p99_us", "text_us_per_span", "blocks_per_span", "chunker_us_per_doc",
         "kernel_s_scaled"), 1.0)
    ledger = {"sinks.chunks": LayerStats(jobs=2), "dedup_clusters": LayerStats(jobs=9)}
    walls = dict.fromkeys(metrics.EXTRACT_LAYERS, 0.5)
    own = metrics.extract_layers(probe, ledger, walls, "narrow", dict.fromkeys(metrics.OUTPUTS, 10), 4)
    for with_curate in (False, True):
        if with_curate:
            own.update(metrics.curate_layers(ledger, dict.fromkeys(metrics.CURATE_QUERIES, 1.0), 4))
        out = metrics.per_layer(setup, own, ledger, walls, 3.0, [3.1], 4)
        assert out.keys() == metrics.PER_LAYER.keys()
        assert out["sinks.chunks.jobs"] == {"value": 2, "unit": "count"}
        assert out["dedup_clusters.jobs"]["value"] == (9 if with_curate else 0)
        assert out["job.jobs"]["value"] == 2


@pytest.fixture(scope="module")
def tiny_traced_run(tmp_path_factory):
    """A tiny local session with the event log on: two tagged layers, and
    Spark's own status-tracker counts for each, taken before stopping."""
    from docling_rag_spark.session import get_spark

    log = tmp_path_factory.mktemp("eventlog")
    out = tmp_path_factory.mktemp("out")
    spark = get_spark(
        master="local[2]", app_name="perfbench-test",
        extra_conf={
            **event_log_conf(str(log)),
            "spark.driver.memory": "1g",
            "spark.local.dir": str(tmp_path_factory.mktemp("local")),
        },
    )
    sc = spark.sparkContext
    spans = Spans(sc)
    with spans.span("write"):
        sc.setJobGroup("write", "write")
        spark.range(1000).selectExpr("id", "id % 7 as k").write.parquet(str(out / "t"))
    with spans.span("agg"):
        sc.setJobGroup("agg", "agg")
        spark.range(5000).selectExpr("id % 13 as k").groupBy("k").count().collect()
    sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    expected = {}
    for tag in ("write", "agg"):
        jobs = tracker.getJobIdsForGroup(tag)
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        expected[tag] = {
            "jobs": len(jobs),
            "tasks": sum(tracker.getStageInfo(s).numCompletedTasks for s in stages),
        }
    spark.stop()
    return parse_event_log(str(log)), expected, spans


def test_event_log_sums_match_spark_counts(tiny_traced_run):
    ledger, expected, spans = tiny_traced_run
    for tag, want in expected.items():
        assert ledger[tag].jobs == want["jobs"] > 0
        assert ledger[tag].tasks == want["tasks"] > 0
    assert ledger["write"].records_written == 1000
    assert ledger["write"].bytes_written > 0
    assert ledger["agg"].shuffle_write_bytes > 0
    assert ledger["agg"].shuffle_read_bytes == ledger["agg"].shuffle_write_bytes
    assert set(spans.walls()) == {"write", "agg"}
