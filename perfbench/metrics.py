"""Metric names, units and how each is computed from a run's measurements.

The names here are the ones BENCHMARK.json lists (a test keeps the two
equal). End-to-end metrics come from the untraced timed passes; per-layer
metrics from the traced pass, its event-log ledger, the kernel probe and,
on ``extract_full``, the curate queries. Every workload prints every
metric; a layer the workload does not run reads 0.

Layers, named after the modules whose public functions the job
calls: ``pipeline.resume_filter`` (input read, prior-lineage read,
anti-join plan), ``pipeline.run_extraction`` (planning plus the ``auto``
mode probe), then one ``sinks.<output>`` layer per ``idempotent_append``
call. The appends are where Spark runs the work, so
``sinks.extracted_spans`` contains the extraction kernel stage,
``sinks.chunks`` the chunk exchange and packer, and
``sinks.doc_metadata`` the metadata joins (and whatever they recompute).
``pipeline.kernel_stage`` isolates the stages that run the Python
extraction kernel inside ``sinks.extracted_spans``.

Operator layers (the curate queries): one per contract query, named
after it.
"""

from __future__ import annotations

import statistics

from .trace import LayerStats

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "spans_per_s": "1/s",
    "failed_frac": "frac",
}

OUTPUTS = ("extracted_spans", "chunks", "doc_metadata", "lineage")
EXTRACT_LAYERS = ("pipeline.resume_filter", "pipeline.run_extraction") + tuple(
    f"sinks.{name}" for name in OUTPUTS
)
CURATE_QUERIES = ("chunk_documents", "text_gopher_filters", "dedup_clusters")

PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "kernels.html.us_per_span": "us",
    "kernels.html.us_per_kb": "us/KB",
    "kernels.html.p99_us": "us",
    "kernels.pdf.us_per_span": "us",
    "kernels.pdf.p99_us": "us",
    "kernels.text.us_per_span": "us",
    "kernels.blocks_per_span": "blocks/span",
    "kernels.chunker.us_per_doc": "us",
    "kernels.python_share": "frac",
    "pipeline.resume_filter.wall_s": "s",
    "pipeline.run_extraction.wall_s": "s",
    "pipeline.run_extraction.jobs": "count",
    "pipeline.spread": "count",
    "pipeline.kernel_stage.wall_s": "s",
    "pipeline.kernel_stage.task_s": "s",
    "pipeline.kernel_stage.python_s": "s",
    "pipeline.kernel_stage.python_bytes_in": "B",
    "pipeline.kernel_stage.busy_frac": "frac",
    "pipeline.kernel_stage.straggler_ratio": "ratio",
    **{
        f"sinks.{name}.{m}": unit
        for name in OUTPUTS
        for m, unit in (
            ("wall_s", "s"), ("jobs", "count"), ("task_s", "s"),
            ("shuffle_bytes", "B"), ("spill_bytes", "B"),
        )
    },
    "sinks.bytes_written": "B",
    "sinks.rows_written": "count",
    "sinks.rows_dropped_as_present": "count",
    **{
        f"{q}.{m}": unit
        for q in CURATE_QUERIES
        for m, unit in (
            ("wall_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"),
            ("busy_frac", "frac"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
        )
    },
    "job.wall_s": "s",
    "job.jobs": "count",
    "job.stages": "count",
    "job.tasks": "count",
    "job.task_s": "s",
    "job.task_cpu_s": "s",
    "job.busy_frac": "frac",
    "job.shuffle_bytes": "B",
    "job.spill_bytes": "B",
    "trace.overhead_s": "s",
    "trace.layer_sum_frac": "frac",
}


def _with_units(values: dict, units: dict) -> dict:
    if values.keys() != units.keys():
        raise RuntimeError(f"metric names differ: {sorted(values.keys() ^ units.keys())}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def end_to_end(setup: dict, walls: list[float], docs: int, spans: int, failed: int) -> dict:
    """``walls``: the untraced pass walls; ``docs``/``spans``: input size
    of one pass; ``failed``: dead-lettered docs plus failed checks."""
    wall = statistics.median(walls)
    return _with_units({
        "setup_s": setup["session_s"] + setup["inputs_s"] + setup["warmup_s"],
        "docs_per_s": docs / wall,
        "spans_per_s": spans / wall,
        "failed_frac": failed / docs,
    }, END_TO_END)


def _busy(task_s: float, wall_s: float, cores: int) -> float:
    return task_s / (wall_s * cores) if wall_s else 0.0


def extract_layers(
    probe: dict, ledger: dict[str, LayerStats], walls: dict[str, float], mode: str,
    offered: dict[str, int], cores: int,
) -> dict:
    """Kernel, pipeline and sink metrics of a traced extract pass.
    ``offered``: rows the pass handed to each sink."""
    def layer(name: str) -> LayerStats:
        return ledger.get(name, LayerStats())

    kern = layer("sinks.extracted_spans")
    kernel_task_s = sum(kern.kernel_task_s)
    written = sum(layer(f"sinks.{n}").records_written for n in OUTPUTS)
    v = {
        "kernels.html.us_per_span": probe["html_us_per_span"],
        "kernels.html.us_per_kb": probe["html_us_per_kb"],
        "kernels.html.p99_us": probe["html_p99_us"],
        "kernels.pdf.us_per_span": probe["pdf_us_per_span"],
        "kernels.pdf.p99_us": probe["pdf_p99_us"],
        "kernels.text.us_per_span": probe["text_us_per_span"],
        "kernels.blocks_per_span": probe["blocks_per_span"],
        "kernels.chunker.us_per_doc": probe["chunker_us_per_doc"],
        # the UDF body's share of the kernel stage's task time; the rest is
        # the Arrow/pandas boundary, the scan and the write
        "kernels.python_share": probe["kernel_s_scaled"] / kernel_task_s if kernel_task_s else 0.0,
        "pipeline.resume_filter.wall_s": walls["pipeline.resume_filter"],
        "pipeline.run_extraction.wall_s": walls["pipeline.run_extraction"],
        "pipeline.run_extraction.jobs": layer("pipeline.run_extraction").jobs,
        "pipeline.spread": int(mode == "spread"),
        "pipeline.kernel_stage.wall_s": kern.kernel_stage_wall_s,
        "pipeline.kernel_stage.task_s": kernel_task_s,
        "pipeline.kernel_stage.python_s": kern.python_run_s,
        "pipeline.kernel_stage.python_bytes_in": kern.python_bytes_in,
        "pipeline.kernel_stage.busy_frac": _busy(kernel_task_s, kern.kernel_stage_wall_s, cores),
        "pipeline.kernel_stage.straggler_ratio": kern.straggler_ratio,
        "sinks.bytes_written": sum(layer(f"sinks.{n}").bytes_written for n in OUTPUTS),
        "sinks.rows_written": written,
        "sinks.rows_dropped_as_present": sum(offered.values()) - written,
    }
    for name in OUTPUTS:
        st = layer(f"sinks.{name}")
        v[f"sinks.{name}.wall_s"] = walls[f"sinks.{name}"]
        v[f"sinks.{name}.jobs"] = st.jobs
        v[f"sinks.{name}.task_s"] = st.task_s
        v[f"sinks.{name}.shuffle_bytes"] = st.shuffle_bytes
        v[f"sinks.{name}.spill_bytes"] = st.spill_bytes
    return v


def curate_layers(ledger: dict[str, LayerStats], walls: dict[str, float], cores: int) -> dict:
    """Operator metrics of a traced pass of the curate queries, one layer
    per query."""
    v = {}
    for q in CURATE_QUERIES:
        st = ledger.get(q, LayerStats())
        v[f"{q}.wall_s"] = walls[q]
        v[f"{q}.jobs"] = st.jobs
        v[f"{q}.task_cpu_s"] = st.task_cpu_s
        v[f"{q}.busy_frac"] = _busy(st.task_s, walls[q], cores)
        v[f"{q}.shuffle_bytes"] = st.shuffle_bytes
        v[f"{q}.spill_bytes"] = st.spill_bytes
    return v


def per_layer(
    setup: dict,
    own: dict,
    ledger: dict[str, LayerStats],
    walls: dict[str, float],
    traced_wall: float,
    untraced_walls: list[float],
    cores: int,
) -> dict:
    """Every per-layer metric: set-up, the run's ``own`` layer metrics (0
    for the layers it does not run), and the whole traced pass summed over
    its layers, whose span ``walls`` it also compares with the untraced
    passes."""
    job = LayerStats()
    for name in EXTRACT_LAYERS:
        st = ledger.get(name, LayerStats())
        for f in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            setattr(job, f, getattr(job, f) + getattr(st, f))
    untraced = statistics.median(untraced_walls)
    v = dict.fromkeys(PER_LAYER, 0)
    v.update(own)
    v.update({
        "setup.session_s": setup["session_s"],
        "setup.inputs_s": setup["inputs_s"],
        "setup.warmup_s": setup["warmup_s"],
        "job.wall_s": traced_wall,
        "job.jobs": job.jobs,
        "job.stages": job.stages,
        "job.tasks": job.tasks,
        "job.task_s": job.task_s,
        "job.task_cpu_s": job.task_cpu_s,
        "job.busy_frac": _busy(job.task_s, traced_wall, cores),
        "job.shuffle_bytes": job.shuffle_bytes,
        "job.spill_bytes": job.spill_bytes,
        "trace.overhead_s": traced_wall - untraced,
        "trace.layer_sum_frac": sum(walls[n] for n in EXTRACT_LAYERS) / untraced,
    })
    return _with_units(v, PER_LAYER)
