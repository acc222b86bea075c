"""The extraction pipeline: interleaved documents → ordered spans → chunks.

Replaces the reference's single-process orchestration
(reference src/ingestion/pipeline.py:13-54 — load → chunk → metadata →
embed → insert) with one declarative DataFrame DAG. One extraction kernel
serves two front ends (identical output, tested):

NARROW (default — one Python stage, zero shuffles for extraction, chunks
and lineage):
    read input table
      → [resume anti-join on lineage]             (E16, postgres.py:253-262)
      → one kernel row per document
      → mapInPandas(extraction kernel)            (Arrow-vectorized; ordering
         computed in-kernel; ChunkPacker over the document's blocks, the
         reference HybridChunker analog, src/ingestion/chunker.py:45-55;
         one lineage sentinel row per kernel row)
      → blocks, chunks (+ md5 id) and lineage are filters of that output

SPREAD (giant-document skew defuse — the north-rule salting path; two
Python stages, one doc_id shuffle):
    … → sort spans into reading order → cut into slices of at most
    SPREAD_SLICE_SPANS spans (one kernel row each, ``part`` = slice rank)
    → optional round-robin repartition (a giant's slices spread over all
    tasks) → the same kernel, without chunking (a slice is not a whole
    document) → doc_id exchange, slice sentinels first, blocks by
    (part, order) → mapInPandas(stitch kernel): renumbered blocks,
    ChunkPacker chunks and one sentinel per document — narrow's rows

METADATA (doc_metadata, one shuffle):
    union by name of (doc_id, doc_type) from the input scan (span kinds
    only — nested-schema pruning), (doc_id, first-chunk text, n_tokens)
    from the chunks and (doc_id, page_num) from the extracted spans
      → one groupBy(doc_id) rollup → language of the first chunk
    With persist_blocks=True the kernel output is cached, so no Python
    kernel re-runs for it.

Scale notes (100 TB):
- Extraction is embarrassingly parallel per document → narrow is default;
  spread's repartition and doc_id exchange shuffle every payload byte and
  sort the extracted text (measured shuffle-I/O-bound at any core count).
  Pick spread only when single documents are large enough to straggle a
  task (SURVEY.md §7.3 #3).
- Everything after the kernel is pure relational (whole-stage codegen).
- See BENCH.md "What made it scale" for the measured pitfalls (task.cpus,
  many-file input, self-referencing-join kernel re-execution).
"""

from __future__ import annotations

import traceback
from collections.abc import Iterator
from functools import partial
from typing import TYPE_CHECKING

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.text import detect_language_col
from .kernels.chunker import ChunkPacker
from .kernels.extract import extract_span


if TYPE_CHECKING:
    import pandas as pd

MAX_TOKENS = 512  # reference src/config.py:34

# spread mode's kernel row: at most this many spans. An ordinary document
# stays one row; the smallest giant auto mode spreads (AUTO_SKEW_MIN_SPANS)
# becomes 79+ rows. One row per span measured slower on extract_increment.
SPREAD_SLICE_SPANS = 64


# --------------------------------------------------------------------------
# the extraction kernel (mapInPandas) — both modes run it
# --------------------------------------------------------------------------
_KERNEL_COLS = (
    "doc_id", "part", "order", "kind", "text", "media_ref", "page_num",
    "n_tokens", "error", "n_spans_in", "partition_id",
)
_KERNEL_SCHEMA = (
    "doc_id string, part int, order int, kind string, text string, "
    "media_ref string, page_num int, n_tokens int, error string, "
    "n_spans_in long, partition_id int"
)


class _Emitter:
    """A kernel's output rows, as column lists flushed to pandas.

    Per document: :meth:`open`, :meth:`block` for each block in reading
    order (``order`` counts from 0; with ``chunk``, ChunkPacker(MAX_TOKENS)
    packs it), then :meth:`close`: the chunks (kind='__chunk', ``order`` =
    chunk_index, the only rows with ``n_tokens``) and one sentinel
    (kind='__doc') carrying lineage — the error, and the block count in
    ``order``. A failed document is closed with its error and no blocks:
    its sentinel is its only row.
    """

    def __init__(self, chunk: bool) -> None:
        self.chunk = chunk
        self.out: dict[str, list] = {k: [] for k in _KERNEL_COLS}

    def open(self, doc_id, part, n_in, pid) -> None:
        self.doc_id, self.part, self.n_in, self.pid = doc_id, part, n_in, pid
        self.n = 0
        self.packer = ChunkPacker(MAX_TOKENS) if self.chunk else None

    def _row(self, order, kind, text, ref, page, n_tok=None, err=None) -> None:
        out = self.out
        out["doc_id"].append(self.doc_id)
        out["part"].append(self.part)
        out["order"].append(order)
        out["kind"].append(kind)
        out["text"].append(text)
        out["media_ref"].append(ref)
        out["page_num"].append(page)
        out["n_tokens"].append(n_tok)
        out["error"].append(err)
        out["n_spans_in"].append(self.n_in)
        out["partition_id"].append(self.pid)

    def block(self, kind, text, ref, page) -> None:
        self._row(self.n, kind, text, ref, page)
        self.n += 1
        if self.packer is not None:
            self.packer.add(kind, text, page)

    def close(self, err) -> None:
        if self.packer is not None:
            for c in self.packer.finish():
                self._row(c["chunk_index"], "__chunk", c["text"], None, c["page_num"],
                          c["n_tokens"])
        self._row(self.n, "__doc", None, None, None, err=err)

    def flush(self) -> "pd.DataFrame":
        import pandas as pd

        out = pd.DataFrame(self.out)
        self.out = {k: [] for k in _KERNEL_COLS}
        return out


def _extract_kernel(
    batches: Iterator["pd.DataFrame"], chunk: bool = False
) -> Iterator["pd.DataFrame"]:
    """One input row (doc_id, part, n_spans_in, spans[]) → its _Emitter
    rows: blocks, chunks with ``chunk`` (narrow: the row is a whole
    document), then the sentinel.

    The span traversal is the oracle's
    (kernels.extract.extract_document_oracle), with per-span errors
    promoted to row failure: a failing row emits ONLY its sentinel — the
    reference's DocumentLoadError taxonomy
    (src/ingestion/document.py:191-203) as dead-letter data instead of a
    failed task.
    """
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    em = _Emitter(chunk)
    for pdf in batches:
        for doc_id, part, n_in, spans in zip(
            pdf["doc_id"], pdf["part"], pdf["n_spans_in"], pdf["spans"]
        ):
            indexed = sorted(
                enumerate(list(spans) if spans is not None else []),
                key=lambda p: ((p[1].get("offset") or 0), p[0]),
            )
            blocks: list = []
            err = None
            try:
                for _, s in indexed:
                    for k, t, r, page in extract_span(
                        s.get("kind"), s.get("text"), s.get("media_ref")
                    ):
                        if k == "error":
                            err = t
                            break
                        blocks.append((k, t, r, page))
                    if err:
                        break
            except Exception:
                err = traceback.format_exc(limit=2)
            em.open(doc_id, part, n_in, pid)
            if err is None:
                for kind, text, ref, page in blocks:
                    em.block(kind, text, ref, page)
            em.close(err)
        yield em.flush()


def _stitch_kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """Spread's back end: per-slice kernel output, clustered by doc_id and
    sorted so each document's slice sentinels come first (by ``part``),
    then its blocks by (part, order) → the rows _extract_kernel emits for
    the whole document (``part`` 0).

    The sentinels settle the lineage before any block arrives: the first
    failing slice's error, and the lowest kernel ``partition_id`` (every
    slice carries the document's ``n_spans_in``). The blocks then stream
    through the emitter — renumbered, packed, closed by one sentinel — or
    are dropped if the document failed. Nothing is buffered per document,
    and the output is flushed every 8192 rows.
    """
    import pandas as pd

    em = _Emitter(chunk=True)
    cur = unset = object()  # the open document's doc_id
    err = None
    for pdf in batches:
        for doc_id, kind, text, ref, page, e, n_in, pid in zip(
            pdf["doc_id"], pdf["kind"], pdf["text"], pdf["media_ref"],
            pdf["page_num"], pdf["error"], pdf["n_spans_in"], pdf["partition_id"],
        ):
            if doc_id != cur:  # a document's first row: its first sentinel
                if cur is not unset:
                    em.close(err)
                cur, err = doc_id, e
                em.open(doc_id, 0, n_in, pid)
            elif kind == "__doc":
                err = e if err is None else err
                em.pid = min(em.pid, pid)
            elif err is None:
                em.block(kind, text, ref, None if pd.isna(page) else int(page))
        if len(em.out["doc_id"]) >= 8192:  # bound kernel memory on huge partitions
            yield em.flush()
    if cur is not unset:
        em.close(err)
    yield em.flush()


def _document_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) → kernel input rows, one per document (part 0)."""
    return docs.select(
        "doc_id",
        F.lit(0).alias("part"),
        # greatest(...,0): size(NULL) is NULL (or legacy -1) — report 0
        F.greatest(F.coalesce(F.size("spans"), F.lit(0)), F.lit(0)).alias(
            "n_spans_in"
        ),
        "spans",
    )


def extract_documents_narrow(docs: DataFrame) -> DataFrame:
    """Zero-shuffle extraction over whole-document rows. The default path:
    extraction is embarrassingly parallel per document, so shuffling raw
    payload bytes (spread path) is pure overhead unless the input files are
    few/skewed. A giant document is one task's straggler here — switch to
    the spread path when that dominates (SURVEY.md §7.3 #3). Each row is a
    whole document, so the kernel also packs its chunks (``__chunk``
    rows)."""
    return _document_rows(docs).mapInPandas(
        partial(_extract_kernel, chunk=True), schema=_KERNEL_SCHEMA
    )


# --------------------------------------------------------------------------
# spread front end: reading-order slices of one document
# --------------------------------------------------------------------------
def extract_documents_spread(
    docs: DataFrame, repartition_to: int | None = None
) -> DataFrame:
    """The spread front end: the kernel over one row per slice of at most
    SPREAD_SLICE_SPANS spans in reading order, ``part`` = slice rank.

    The sort key (offset, array index) is the kernel's own, so slice p
    holds exactly the spans that precede slice p+1's in the document, and
    per-slice kernel output ordered by (part, order) is the whole-document
    order. A null/empty spans array stays one (empty) slice so its
    document still reaches lineage. ``repartition_to``: round-robin the
    slices to N partitions before the kernel (see run_extraction).
    """
    n = SPREAD_SLICE_SPANS
    ranked = F.sort_array(
        F.transform(
            "spans",
            lambda s, i: F.struct(
                F.coalesce(s["offset"], F.lit(0)).alias("o"),
                i.alias("i"),
                s.alias("s"),
            ),
        )
    )
    n_slices = F.greatest(F.ceil(F.col("n_spans_in") / n), F.lit(1))
    slices = F.transform(
        F.sequence(F.lit(0), (n_slices - 1).cast("int")),
        lambda k: F.transform(
            F.slice("_ranked", k * n + 1, F.lit(n)), lambda x: x["s"]
        ),
    )
    rows = (
        _document_rows(docs)
        .select("doc_id", "n_spans_in", ranked.alias("_ranked"))
        .select("doc_id", "n_spans_in", F.posexplode(slices).alias("part", "spans"))
    )
    if repartition_to:
        rows = rows.repartition(repartition_to)
    return rows.mapInPandas(_extract_kernel, schema=_KERNEL_SCHEMA)


# --------------------------------------------------------------------------
# per-document metadata (reference extract_metadata, document.py:206-221)
# --------------------------------------------------------------------------
def doc_metadata(docs: DataFrame, extracted: DataFrame, chunks: DataFrame) -> DataFrame:
    """doc_type from input span kinds (pdf > html > txt precedence — the
    analog of file-extension doc_type, document.py:210); language from the
    first 500 chars of the first chunk (document.py:212-218).

    One shuffle: the three inputs are unioned by name and rolled up in a
    single groupBy(doc_id), so a keyed sink's dropDuplicates(doc_id) reuses
    that partitioning. ``array_contains`` over ``spans.kind`` (not a
    lambda) lets nested-schema pruning read only the span kinds. Rows keep
    the ``docs`` document set (doc_type is never null there); a null spans
    array gives a null doc_type test and falls through to 'txt'.
    """
    kinds = F.col("spans.kind")
    rows = docs.select(
        "doc_id",
        F.when(F.array_contains(kinds, "pdf"), "pdf")
        .when(F.array_contains(kinds, "html"), "html")
        .otherwise("txt")
        .alias("doc_type"),
    ).unionByName(
        chunks.select(
            "doc_id",
            F.when(F.col("chunk_index") == 0, F.col("text")).alias("first_chunk"),
            "n_tokens",
        ),
        allowMissingColumns=True,
    ).unionByName(extracted.select("doc_id", "page_num"), allowMissingColumns=True)
    return (
        rows.groupBy("doc_id")
        .agg(
            F.max("doc_type").alias("doc_type"),
            F.max("first_chunk").alias("first_chunk"),
            F.count("n_tokens").alias("num_chunks"),
            F.sum("n_tokens").alias("num_tokens"),
            F.max("page_num").alias("num_pages"),
        )
        .filter(F.col("doc_type").isNotNull())
        .select(
            "doc_id",
            "doc_type",
            F.coalesce(detect_language_col(F.col("first_chunk")), F.lit("en")).alias(
                "language"
            ),
            "num_chunks",
            "num_tokens",
            "num_pages",
        )
    )


# --------------------------------------------------------------------------
# lineage + resume (north_rule; reference skip-if-ingested, E16/E17)
# --------------------------------------------------------------------------
def _run_ts_col(run_ts) -> "F.Column":
    """ingested_at stamp = the JOB START time (conservative): a commit-time
    stamp would mask any source modification that lands while the job runs —
    modified_at(T1 during job) < ingested_at(commit T2) and the E17
    predicate would never re-ingest it. Fixed per run, not per action:
    current_timestamp() re-evaluates per materialization."""
    from datetime import datetime, timezone

    ts = run_ts or datetime.now(timezone.utc)
    return F.to_timestamp(F.lit(ts.strftime("%Y-%m-%d %H:%M:%S.%f")))


def resume_filter(
    docs: DataFrame, lineage: DataFrame | None, modified_col: str | None = None
) -> DataFrame:
    """Skip already-processed documents: left anti join on the checkpoint
    (the reference's document_exists skip, src/storage/postgres.py:253-262,
    cli/cli.py:166-168 — the resumability primitive of the north rule).

    ``modified_col`` (E17, reference is_file_modified src/utils.py:141-147):
    name of a source timestamp column; a document already processed is
    STILL re-ingested when ``docs[modified_col] > max(lineage.ingested_at)``
    for it — the incremental re-ingest predicate. None keeps the pure
    anti-join (never re-process)."""
    if lineage is None:
        return docs
    done = lineage.filter(F.col("status") == "processed")
    if modified_col is None or "ingested_at" not in lineage.columns:
        return docs.join(done.select("doc_id").distinct(), "doc_id", "left_anti")
    last = done.groupBy("doc_id").agg(F.max("ingested_at").alias("_ingested_at"))
    return (
        docs.join(last, "doc_id", "left")
        .filter(
            F.col("_ingested_at").isNull()
            | (F.col(modified_col) > F.col("_ingested_at"))
        )
        .drop("_ingested_at")
    )


# --------------------------------------------------------------------------
# end-to-end
# --------------------------------------------------------------------------
def run_extraction(
    docs: DataFrame,
    run_id: str = "run0",
    prior_lineage: DataFrame | None = None,
    repartition_to: int | None = None,
    persist_blocks: bool = False,
    mode: str = "narrow",
    run_ts=None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full pipeline → (extracted_spans, chunks, lineage).

    Modes (one kernel; both produce IDENTICAL output — tested):
    * ``narrow`` (default): one kernel row per document, ordering and
      chunking in-kernel, ZERO shuffles for extraction, chunks and
      lineage. Extraction is embarrassingly parallel per document; at
      100 TB the shuffle the spread path pays on every raw payload byte is
      the bottleneck, so narrow is the default.
    * ``spread``: one kernel row per reading-order slice of
      SPREAD_SLICE_SPANS spans, then one doc_id exchange into the stitch
      kernel, which emits narrow's rows per document. Use when giant
      documents (10^2-10^3× median) would straggle a narrow task — the
      north-rule skew defuse: one doc's slices spread over many tasks.

    ``repartition_to``: round-robin the kernel rows to N partitions first
    (in spread mode this is what spreads a giant's slices; in narrow mode
    it spreads whole documents). None: no shuffle — scan splits provide
    the parallelism (a many-file table at 100 TB is already well-split;
    shuffling every raw payload byte would dominate the job).

    ``persist_blocks=True`` caches the kernel output (MEMORY_AND_DISK):
    extracted, chunks and lineage are all filters of that one frame, and
    doc_metadata reads it too, so the Python kernels run once (in whichever
    sink comes first) — use it when materializing more than one output in
    the same job batch (e.g. extract_job, the streaming sink).
    ``release_extraction(lineage)`` drops the cache when the batch is
    written.

    * ``auto``: probe the per-doc span-count distribution and pick for you
      (choose_extraction_mode) — spread only when a giant-document
      straggler is actually present. The probe costs one size-only pass
      over the spans column (no kernel CPU); at very large scale prefer
      passing a precomputed span-count table statistic and choosing the
      mode at the caller, or accept the pass — a wrong narrow choice costs
      more (one 60k-span doc serializes an entire executor-hour behind a
      single task; the skew demo measures 2.1× on a mild version).
    """
    todo = resume_filter(docs, prior_lineage)
    if mode == "auto":
        mode = choose_extraction_mode(todo)
    if mode == "narrow":
        if repartition_to:
            # round-robin whole-doc rows (spreads docs, not spans — use
            # mode='spread' to split giants)
            todo = todo.repartition(repartition_to)
        raw = extract_documents_narrow(todo)
    elif mode == "spread":
        # one doc_id cluster; each document's slice sentinels sort first
        raw = (
            extract_documents_spread(todo, repartition_to)
            .repartition("doc_id")
            .sortWithinPartitions("doc_id", F.col("kind") != "__doc", "part", "order")
            .mapInPandas(_stitch_kernel, schema=_KERNEL_SCHEMA)
        )
    else:
        raise ValueError(f"unknown mode {mode!r} (narrow|spread|auto)")
    if persist_blocks:
        raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    extracted = raw.filter(~F.col("kind").isin("__doc", "__chunk")).select(
        "doc_id", "order", "kind", "text", "media_ref", "page_num"
    )
    chunks = raw.filter(F.col("kind") == "__chunk").select(
        "doc_id", F.col("order").alias("chunk_index"), "text", "page_num", "n_tokens",
        # the reference id recipe (src/ingestion/chunker.py:49)
        F.md5(F.concat_ws("_", "doc_id", "order", "text")).alias("id"),
    )
    lineage = raw.filter(F.col("kind") == "__doc").select(
        F.lit(run_id).alias("run_id"),
        "partition_id",
        "doc_id",
        F.when(F.col("error").isNull(), "processed").otherwise("failed").alias("status"),
        "error",
        "n_spans_in",
        # a failed document's sentinel counts 0 blocks: it emitted none
        F.col("order").cast("long").alias("n_blocks_out"),
        _run_ts_col(run_ts).alias("ingested_at"),
    )
    if persist_blocks:
        lineage._cached = (raw,)  # what release_extraction unpersists
    return extracted, chunks, lineage


def release_extraction(lineage: DataFrame) -> None:
    """Unpersist exactly the frame ``run_extraction(persist_blocks=True)``
    cached for the batch whose ``lineage`` frame it returned (the kernel
    output) — for a caller that runs many
    batches in one session, so they do not accumulate. A no-op for an
    uncached run."""
    for df in getattr(lineage, "_cached", ()):
        df.unpersist()


# auto-mode decision thresholds: spread pays a shuffle on every payload
# byte, so it must only win when a straggler is REAL — a giant doc both
# absolutely large (a 4k-span doc still fits a task) AND far off the
# corpus median (a uniformly-heavy corpus is parallel already; splitting
# buys nothing and costs the shuffle)
AUTO_SKEW_MIN_SPANS = 5_000
AUTO_SKEW_RATIO = 50.0


def choose_extraction_mode(docs: DataFrame) -> str:
    """'spread' iff the span-count distribution shows a true giant-doc
    straggler: max ≥ AUTO_SKEW_MIN_SPANS and max ≥ AUTO_SKEW_RATIO ×
    MEDIAN (the median is the robust center — the giant itself drags the
    MEAN up by its own mass, hiding exactly the skew being probed for).
    One aggregate over size(spans) — no payload kernel work, the driver
    gets two numbers (approx-percentile sketch state, mergeable)."""
    row = docs.agg(
        F.max(F.size("spans")).alias("mx"),
        F.percentile_approx(F.size("spans"), 0.5).alias("med"),
    ).collect()[0]
    mx = row["mx"] or 0
    med = row["med"] or 0
    if mx >= AUTO_SKEW_MIN_SPANS and mx >= AUTO_SKEW_RATIO * max(med, 1):
        return "spread"
    return "narrow"
