"""SparkSession factory tuned for this engine.

local[N] here; the same settings are what we'd ship via spark-submit --conf
on a real cluster (AQE on for runtime re-planning + skew handling, Arrow on
for the vectorized kernels, shuffle partitions sized to cores locally —
on a 1000-executor cluster this would be ~2-3× total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the default driver memory never exceeds this, however large the host
MAX_DRIVER_MEM_GB = 48


def _mem_total_kb() -> int | None:
    """MemTotal of /proc/meminfo in kB; None where it cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def _host_defaults() -> tuple[str, str]:
    """(cores, driver memory) for a session sized from the host it runs
    on: the cores this process may run on, and half of physical memory in
    whole GB (at least 1g, at most MAX_DRIVER_MEM_GB) — in local mode the
    driver JVM is the executor, and its Python workers need the rest.
    Without a readable /proc/meminfo the memory is the cap."""
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    else:
        cpus = os.cpu_count() or 1
    kb = _mem_total_kb()
    gb = MAX_DRIVER_MEM_GB if kb is None else kb // 2 // 2**20
    return str(cpus), f"{min(max(gb, 1), MAX_DRIVER_MEM_GB)}g"


def get_spark(
    master: str | None = None,
    app_name: str = "docling-rag-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    default_cpus, default_mem = _host_defaults()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", default_cpus)
    master = master or f"local[{cpus}]"
    # the master's cores: N of local[N] / local[N,F], 1 for bare local
    if "[" in master:
        n = master[master.find("[") + 1 : master.find("]")].split(",")[0]
    else:
        n = "1" if master == "local" else cpus
    if shuffle_partitions is None:
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin the session TZ: date_trunc/day-bucket semantics and DuckDB
        # oracle parity must not depend on the host timezone (DuckDB treats
        # parquet timestamps as naive UTC)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce shuffles inside cached plans too (Spark 4 default
        # false): any cached query plan with an exchange otherwise keeps all
        # shuffle.partitions. run_extraction(persist_blocks=True) in spread
        # mode caches the kernel output, whose doc_id exchange is one —
        # measured when narrow cached an exchanged chunks frame, on a traced
        # perfbench extract_full pass (4 cores): 52 tasks instead of 31 and
        # the chunks sink's task time 3.3 s instead of 1.0-1.1 s
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Arrow-UDF stages run a JVM task thread AND a Python worker per
        # slot: at task.cpus=1 that is 2× CPU oversubscription and the
        # Python-dominated extraction kernel thrashes (measured 24-77s vs
        # 12-15s at local[32] on the sf0.1×64 corpus). task.cpus=2 sizes
        # slots for the JVM+Python pair — the same setting a real cluster
        # would ship via spark-submit --conf for this workload. A 1-core
        # master gets 1: a task may not ask for more cpus than it has.
        .config("spark.task.cpus", str(min(2, int(default_cpus if n == "*" else n))))
        # parquet scans: keep splits small enough that one giant doc row
        # cannot pin a whole multi-GB split to one task at 100 TB
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local mode: the driver IS the executor — size it for all concurrent
        # tasks (32 tasks × shuffle+arrow buffers spill badly in 8g), but
        # never past the host's memory (_host_defaults)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", default_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
