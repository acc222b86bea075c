"""The extraction pipeline: interleaved documents → ordered spans → chunks.

Replaces the reference's single-process orchestration
(reference src/ingestion/pipeline.py:13-54 — load → chunk → metadata →
embed → insert) with one declarative DataFrame DAG. One extraction kernel
serves two front ends (identical output, tested):

NARROW (default — zero shuffles for extraction + lineage):
    read input table
      → [resume anti-join on lineage]             (E16, postgres.py:253-262)
      → one kernel row per document
      → mapInPandas(extraction kernel)            (Arrow-vectorized; ordering
         computed in-kernel; one lineage sentinel row per kernel row)
      → chunk assembly: doc_id exchange → streaming ChunkPacker
         (reference HybridChunker analog, src/ingestion/chunker.py:45-55)

SPREAD (giant-document skew defuse — the north-rule salting path):
    … → sort spans into reading order → cut into slices of at most
    SPREAD_SLICE_SPANS spans (one kernel row each, ``part`` = slice rank)
    → optional round-robin repartition (a giant's slices spread over all
    tasks) → the same kernel → one window over doc_id ordered by
    (part, order) → same chunk assembly; lineage = groupBy over the
    slice sentinels

Scale notes (100 TB):
- Extraction is embarrassingly parallel per document → narrow is default;
  spread's repartition + ordering window shuffle every payload byte and
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
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions.text import detect_language_col
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
_KERNEL_SCHEMA = (
    "doc_id string, part int, order int, kind string, text string, "
    "media_ref string, page_num int, error string, n_spans_in long, "
    "partition_id int"
)


def _extract_kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """One input row (doc_id, part, n_spans_in, spans[]) → its blocks in
    reading order (``order`` 0-based within the row), then one sentinel row
    (kind='__doc') carrying lineage: the error and the block count (in
    `order`). The span traversal is the oracle's
    (kernels.extract.extract_document_oracle), with per-span errors
    promoted to row failure: a failing row emits ONLY its sentinel — the
    reference's DocumentLoadError taxonomy (src/ingestion/document.py:191-203)
    as dead-letter data instead of a failed task.
    """
    import pandas as pd
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId() if TaskContext.get() else -1
    cols = ("doc_id", "part", "order", "kind", "text", "media_ref", "page_num",
            "error", "n_spans_in", "partition_id")
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in cols}

        def emit(doc_id, part, order, kind, text, ref, page, err, n_in):
            out["doc_id"].append(doc_id)
            out["part"].append(part)
            out["order"].append(order)
            out["kind"].append(kind)
            out["text"].append(text)
            out["media_ref"].append(ref)
            out["page_num"].append(page)
            out["error"].append(err)
            out["n_spans_in"].append(n_in)
            out["partition_id"].append(pid)

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
            if err is None:
                for order, (kind, text, ref, page) in enumerate(blocks):
                    emit(doc_id, part, order, kind, text, ref, page, None, n_in)
                emit(doc_id, part, len(blocks), "__doc", None, None, None, None, n_in)
            else:
                emit(doc_id, part, 0, "__doc", None, None, None, err, n_in)
        yield pd.DataFrame(out)


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
    the spread path when that dominates (SURVEY.md §7.3 #3)."""
    return _document_rows(docs).mapInPandas(_extract_kernel, schema=_KERNEL_SCHEMA)


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


def order_spans(raw: DataFrame) -> DataFrame:
    """Spread kernel output → the FIXTURES.md F2 output: 0-based total
    order per doc, failed documents dropped.

    One window (one doc_id exchange) does both: rows sort by
    (part, order), where each slice's sentinel sorts last in its slice, so
    a block's document order is its row number minus the sentinels of
    earlier slices (= part). Failed-document exclusion is a window max over
    the same spec — NOT an anti-join against an error branch: a
    self-referencing join re-executes the whole kernel per branch
    (measured 2× kernel cost per job).
    """
    w = Window.partitionBy("doc_id").orderBy("part", "order")
    return (
        raw.select(
            "*",
            (F.row_number().over(w) - 1 - F.col("part")).alias("_order"),
            F.max(F.col("error").isNotNull().cast("int"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .alias("_failed"),
        )
        .filter((F.col("_failed") == 0) & (F.col("kind") != "__doc"))
        .select(
            "doc_id",
            F.col("_order").alias("order"),
            "kind",
            "text",
            "media_ref",
            "page_num",
        )
    )


# --------------------------------------------------------------------------
# stage 4: chunk assembly (heading-aware greedy packing — frozen spec v2,
# kernels/chunker.py). Greedy packing with heading resets is sequentially
# dependent per document, which windows cannot express (prefix-sum binning
# — the v1 spec — let chunks exceed max_tokens when a span straddled a
# boundary). Physical shape: ONE hash shuffle on doc_id + in-partition sort,
# then a single-pass Arrow kernel that streams state across batch
# boundaries — same exchange count as the old window+groupBy plan.
# --------------------------------------------------------------------------
_CHUNK_SCHEMA = (
    "doc_id string, chunk_index int, text string, page_num int, n_tokens int"
)


def _chunk_kernel(
    batches: Iterator["pd.DataFrame"], max_tokens: int = MAX_TOKENS
) -> Iterator["pd.DataFrame"]:
    """Per-partition streaming packer: input rows arrive clustered by doc_id
    and sorted by (doc_id, order); ChunkPacker state carries a document
    across Arrow batch boundaries (a giant doc never needs to fit one
    batch)."""
    import pandas as pd

    from .kernels.chunker import ChunkPacker

    cols = ("doc_id", "chunk_index", "text", "page_num", "n_tokens")
    out: dict[str, list] = {k: [] for k in cols}
    cur_doc, packer = None, None

    def finish_doc() -> None:
        if packer is None:
            return
        for c in packer.finish():
            out["doc_id"].append(cur_doc)
            out["chunk_index"].append(c["chunk_index"])
            out["text"].append(c["text"])
            out["page_num"].append(c["page_num"])
            out["n_tokens"].append(c["n_tokens"])

    for pdf in batches:
        for doc_id, kind, text, page in zip(
            pdf["doc_id"], pdf["kind"], pdf["text"], pdf["page_num"]
        ):
            if doc_id != cur_doc:
                finish_doc()
                cur_doc, packer = doc_id, ChunkPacker(max_tokens)
            packer.add(kind, text, None if pd.isna(page) else int(page))
        if len(out["doc_id"]) >= 8192:  # bound kernel memory on huge partitions
            yield pd.DataFrame(out)
            out = {k: [] for k in cols}
    finish_doc()
    yield pd.DataFrame(out)


def chunk_spans(extracted: DataFrame, max_tokens: int = MAX_TOKENS) -> DataFrame:
    """Ordered spans → chunks table (reference HybridChunker semantics:
    heading-aware greedy packing — SURVEY.md §2.2 E11-E13; frozen spec v2 in
    kernels/chunker.py, shared with the single-process oracle).

    Only chunkable spans (kind/text filter pushed to the scan) are shuffled;
    id = md5('{doc_id}_{chunk_index}_{text}') stays a codegen expression.
    """
    chunkable = extracted.filter(
        F.col("kind").isin("heading", "text", "table")
        & F.col("text").isNotNull()
        & (F.length("text") > 0)
    ).select("doc_id", "order", "kind", "text", "page_num")
    from functools import partial

    clustered = chunkable.repartition("doc_id").sortWithinPartitions(
        "doc_id", "order"
    )
    kernel = partial(_chunk_kernel, max_tokens=max_tokens)
    return clustered.mapInPandas(kernel, schema=_CHUNK_SCHEMA).withColumn(
        "id",
        F.md5(F.concat_ws("_", F.col("doc_id"), F.col("chunk_index"), F.col("text"))),
    )


# --------------------------------------------------------------------------
# per-document metadata (reference extract_metadata, document.py:206-221)
# --------------------------------------------------------------------------
def doc_metadata(docs: DataFrame, extracted: DataFrame, chunks: DataFrame) -> DataFrame:
    """doc_type from input span kinds (pdf > html > txt precedence — the
    analog of file-extension doc_type, document.py:210); language from the
    first 500 chars of the first chunk (document.py:212-218)."""
    kinds = docs.select(
        "doc_id",
        F.when(F.exists("spans", lambda s: s["kind"] == "pdf"), "pdf")
        .when(F.exists("spans", lambda s: s["kind"] == "html"), "html")
        .otherwise("txt")
        .alias("doc_type"),
    )
    lang = (
        chunks.filter(F.col("chunk_index") == 0)
        .select("doc_id", detect_language_col(F.col("text")).alias("language"))
    )
    counts = chunks.groupBy("doc_id").agg(
        F.count("*").alias("num_chunks"), F.sum("n_tokens").alias("num_tokens")
    )
    pages = extracted.groupBy("doc_id").agg(F.max("page_num").alias("num_pages"))
    return (
        kinds.join(lang, "doc_id", "left")
        .join(counts, "doc_id", "left")
        .join(pages, "doc_id", "left")
        .withColumn("language", F.coalesce("language", F.lit("en")))
        .withColumn("num_chunks", F.coalesce("num_chunks", F.lit(0)))
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
    * ``narrow`` (default): one kernel row per document, ordering
      in-kernel, ZERO shuffles for extraction+lineage. Extraction is
      embarrassingly parallel per document; at 100 TB the shuffle the
      spread path pays on every raw payload byte is the bottleneck, so
      narrow is the default.
    * ``spread``: one kernel row per reading-order slice of
      SPREAD_SLICE_SPANS spans → window re-ordering. Use when giant
      documents (10^2-10^3× median) would straggle a narrow task — the
      north-rule skew defuse: one doc's slices spread over many tasks.

    ``repartition_to``: round-robin the kernel rows to N partitions first
    (in spread mode this is what spreads a giant's slices; in narrow mode
    it spreads whole documents). None: no shuffle — scan splits provide
    the parallelism (a many-file table at 100 TB is already well-split;
    shuffling every raw payload byte would dominate the job).

    ``persist_blocks=True`` caches the kernel output (MEMORY_AND_DISK) —
    use it when materializing more than one of the three outputs in the
    same job batch (e.g. the streaming sink), since extracted/lineage would
    otherwise each re-run the extraction kernel.

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
        raw = extract_documents_spread(todo, repartition_to)
    else:
        raise ValueError(f"unknown mode {mode!r} (narrow|spread|auto)")
    if persist_blocks:
        from pyspark import StorageLevel

        raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    sentinels = raw.filter(F.col("kind") == "__doc")
    if mode == "narrow":
        extracted = raw.filter(F.col("kind") != "__doc").select(
            "doc_id", "order", "kind", "text", "media_ref", "page_num"
        )
    else:
        extracted = order_spans(raw)
        # one row per document: the error of the first failing slice in
        # reading order, the summed block count
        sentinels = sentinels.groupBy("doc_id").agg(
            F.min("partition_id").alias("partition_id"),
            F.min_by("error", F.when(F.col("error").isNotNull(), F.col("part")))
            .alias("error"),
            F.max("n_spans_in").alias("n_spans_in"),
            F.sum("order").alias("order"),
        )
    lineage = sentinels.select(
        F.lit(run_id).alias("run_id"),
        "partition_id",
        "doc_id",
        F.when(F.col("error").isNull(), "processed").otherwise("failed").alias("status"),
        "error",
        "n_spans_in",
        # failed docs report 0 blocks: they emit no output rows
        F.when(F.col("error").isNull(), F.col("order"))
        .otherwise(0)
        .cast("long")
        .alias("n_blocks_out"),
        _run_ts_col(run_ts).alias("ingested_at"),
    )
    chunks = chunk_spans(extracted)
    return extracted, chunks, lineage


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
