"""The workloads, each a batch job run in a closed loop with one client.

``extract_full`` and ``extract_increment`` run ``jobs/extract_job.py``'s
call sequence: read the input table, resume against the output's lineage,
extract, then the four keyed appends with the lineage committed last. A
pass is timed from the first read until the lineage append returns, and
every pass starts from the same output state, so the passes of a run
repeat one job. ``CurateQueries`` runs contract queries of
``__spark_entry__`` over a generated ``documents`` table for the operator
layer of ``extract_full``'s traced runs.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow.parquet as pq

import __spark_entry__
from docling_rag_spark.pipeline import (
    choose_extraction_mode,
    doc_metadata,
    resume_filter,
    run_extraction,
)
from docling_rag_spark.sources.corpus import read_corpus
from docling_rag_spark.sources.sinks import idempotent_append

from . import checks, gen, metrics
from .trace import Spans

# keys of extract_job's appends, in its order (the lineage commit last)
OUTPUT_KEYS = dict(
    zip(metrics.OUTPUTS, (["doc_id", "order"], ["id"], ["doc_id"], ["run_id", "doc_id"]))
)


@dataclass
class JobResult:
    wall_s: float
    run_id: str
    mode: str


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def _plan(spark, input_path: str, out: str, run_id: str, mode: str, spans: Spans):
    """resume_filter + run_extraction of one job; nothing runs yet except
    the ``auto`` mode probe."""
    with spans.span("pipeline.resume_filter"):
        docs = read_corpus(spark, input_path)
        lineage_dir = os.path.join(out, "lineage")
        prior = spark.read.parquet(lineage_dir) if _has_parquet(lineage_dir) else None
        todo = resume_filter(docs, prior)
    with spans.span("pipeline.run_extraction"):
        chosen = choose_extraction_mode(todo) if mode == "auto" else mode
        extracted, chunks, lineage = run_extraction(
            todo, run_id=run_id, mode=chosen, persist_blocks=True,
            run_ts=datetime.now(timezone.utc),
        )
    frames = {"extracted_spans": extracted, "chunks": chunks, "lineage": lineage}
    return chosen, todo, frames


def _output(name: str, todo, frames: dict):
    if name == "doc_metadata":
        return doc_metadata(todo, frames["extracted_spans"], frames["chunks"])
    return frames[name]


def extract_job(
    spark, input_path: str, out: str, run_id: str, mode: str, spans: Spans | None = None,
) -> JobResult:
    """The call sequence of ``jobs/extract_job.py --resume``: resume_filter,
    run_extraction(persist_blocks=True), then idempotent appends of
    extracted_spans, chunks, doc_metadata and, last, lineage."""
    spans = spans or Spans()
    t0 = time.perf_counter()
    chosen, todo, frames = _plan(spark, input_path, out, run_id, mode, spans)
    for name, key in OUTPUT_KEYS.items():
        with spans.span(f"sinks.{name}"):
            idempotent_append(spark, _output(name, todo, frames), os.path.join(out, name), key=key)
    return JobResult(time.perf_counter() - t0, run_id, chosen)


class Workload:
    """Set-up, warm-up, timed passes and checks of one workload.

    Subclasses set ``corpus`` (the timed input), ``todo`` (ids a pass must
    process) and ``must_sample`` in ``make_inputs``."""

    name = ""
    mode = ""
    traces_curate = False

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.inputs = os.path.join(work, "in")
        self.input = os.path.join(self.inputs, "docs")
        self.out = os.path.join(work, "out")
        self.walls: list[float] = []
        self.last: JobResult | None = None
        self.must_sample: set[str] = set()
        self.offered: dict[str, int] = {}

    def prepare_inputs(self) -> float:
        """Generate the inputs; return the wall."""
        t0 = time.perf_counter()
        self.make_inputs()
        return time.perf_counter() - t0

    def make_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """One untimed pass: a session's first pass runs several times
        slower (JIT, code generation, Python worker start). A warm-up over a
        100-document slice cost about as much and left the next pass ~40%
        slower than the one after it."""
        self.run_pass("warm")
        self.release()

    def reset_output(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, i, spans: Spans | None = None) -> JobResult:
        self.reset_output()
        self.last = extract_job(self.spark, self.input, self.out, f"pass{i}", self.mode, spans)
        return self.last

    def release(self) -> None:
        self.spark.catalog.clearCache()

    def timed_loop(self, seconds: float) -> None:
        """Closed loop, one client: passes back to back until ``seconds``
        have elapsed (at least one)."""
        t_end = time.perf_counter() + seconds
        while not self.walls or time.perf_counter() < t_end:
            self.walls.append(self.run_pass(len(self.walls)).wall_s)
            self.release()

    def todo_corpus(self) -> gen.Corpus:
        docs = [d for d in self.corpus.docs if d["doc_id"] in self.todo]
        return gen.Corpus(docs, self.corpus.planted & self.todo)

    def check(self) -> tuple[list[str], int]:
        """(problems, failed docs) of the last pass's output."""
        return checks.check_output(
            self.out, OUTPUT_KEYS, self.last.run_id, self.corpus, self.todo,
            self.seed, self.must_sample,
        )

    def count_offered(self) -> None:
        """Rows the next pass will hand to each sink, counted (not
        appended) from the same reset output state."""
        self.reset_output()
        _, todo, frames = _plan(self.spark, self.input, self.out, "counted", self.mode, Spans())
        self.offered = {name: _output(name, todo, frames).count() for name in OUTPUT_KEYS}
        self.release()


class ExtractFull(Workload):
    """A fresh table: every document is new; narrow mode. Its traced runs
    also measure the operator layer (CurateQueries)."""

    name = "extract_full"
    mode = "narrow"
    DOCS = 800
    traces_curate = True

    def make_inputs(self) -> None:
        self.corpus = gen.documents(self.seed, self.DOCS, "d")
        self.todo = self.corpus.ids
        gen.write(self.corpus, self.input)


class ExtractIncrement(Workload):
    """Resume onto a non-empty table in ``auto`` mode.

    Set-up builds the prior output from OLD_DOCS documents and GIANTS
    already-ingested giants. The timed pass reads those plus NEW_DOCS new
    documents and GIANTS new giants, so the resume anti-join keeps only the
    new documents, the new giants and the prior run's failed ones; the
    giants push ``choose_extraction_mode`` to spread; and the keyed appends
    read the existing keys of every output table (the re-tried failed
    documents' metadata rows are dropped as present)."""

    name = "extract_increment"
    mode = "auto"
    OLD_DOCS = 600
    NEW_DOCS = 200
    GIANTS = 1
    GIANT_SPANS = 5000

    def make_inputs(self) -> None:
        old = gen.documents(self.seed, self.OLD_DOCS, "o") + gen.skew_giants(
            self.seed, self.GIANTS, self.GIANT_SPANS, "oldgiant")
        new = gen.documents(self.seed, self.NEW_DOCS, "n")
        giants = gen.skew_giants(self.seed, self.GIANTS, self.GIANT_SPANS)
        self.corpus = old + new + giants
        self.todo = new.ids | giants.ids | old.planted
        self.must_sample = {giants.docs[0]["doc_id"]}
        gen.write(self.corpus, self.input)
        gen.write(old, os.path.join(self.inputs, "old"))

    def warm_up(self) -> None:
        """Build the prior output from the old documents in ``auto`` mode:
        its giants send it down the spread path the timed pass takes."""
        self.prior = os.path.join(self.work, "prior")
        extract_job(self.spark, os.path.join(self.inputs, "old"), self.prior, "prior", "auto")
        self.release()

    def reset_output(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.prior, self.out)


class CurateQueries:
    """The operator layer: contract queries over a generated ``documents``
    table, results collected to the driver: word chunking, the Gopher
    quality filters, and near-duplicate clustering (minhash-LSH pairs, then
    the iterative connected-components loop). Traced runs of
    ``extract_full`` run one warm-up pass and one traced pass of it."""

    DOCS = 1000
    CHAINS = 40
    CHAIN_LEN = 5
    EDITS = 2
    SF_TAG = "perfbench_curate"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.sf = os.path.join(work, "in", self.SF_TAG)
        self.results: dict[str, list[dict]] = {}
        # disk memos the program keeps under data/ for this tag are cleared,
        # so every run starts from the same state
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        for memo in glob.glob(os.path.join(root, "data", f"*_{self.SF_TAG}_*")):
            shutil.rmtree(memo, ignore_errors=True)
        os.makedirs(self.sf)
        pq.write_table(
            gen.curate_documents(seed, self.DOCS, self.CHAINS, self.CHAIN_LEN, self.EDITS),
            os.path.join(self.sf, "documents.parquet"),
        )

    def run_pass(self, spans: Spans) -> None:
        queries = __spark_entry__.queries()
        for q in metrics.CURATE_QUERIES:
            with spans.span(q):
                self.results[q] = [r.asDict() for r in queries[q](self.spark, self.sf).collect()]
        self.spark.catalog.clearCache()
        # also drop the local checkpoint that backs dedup_clusters' result
        # (a cache clear does not reach it)
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)

    def check(self) -> list[str]:
        return checks.check_curate(self.sf, self.results)


WORKLOADS = {w.name: w for w in (ExtractFull, ExtractIncrement)}
