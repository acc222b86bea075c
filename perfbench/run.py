"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, starts
one Spark session at local[<nproc>] through ``get_spark``, warms up, runs
the workload's job in a closed loop for ``--seconds``, checks the output
and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. Exits non-zero when a check fails or the program is not
next to the benchmark. Everything it writes goes under ``.perfbench/`` in
the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
DRIVER_MEM = "1g"


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(trace: bool):
    """The session sized only through SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM
    and ``extra_conf``: scratch, temp and event-log dirs inside WORK."""
    from docling_rag_spark.session import get_spark

    from perfbench.trace import event_log_conf

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.local.dir": str(WORK / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        conf.update(event_log_conf(str(WORK / "eventlog")))
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session (if it started) and the JVM (the Python workers are
    its children), and wait until no child process is left."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (ROOT / "docling_rag_spark").is_dir():
        print(f"perfbench: no docling_rag_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Python workers import the program from the checkout as well
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("local", "tmp", "eventlog"):
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")

    from pyspark import SparkContext

    from perfbench import metrics
    from perfbench.probe import kernel_probe
    from perfbench.trace import RssSampler, Spans, parse_event_log
    from perfbench.workloads import WORKLOADS, CurateQueries

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(bool(args.trace))
        setup = {"session_s": time.perf_counter() - t0}
        wl = WORKLOADS[args.workload](spark, str(WORK), args.seed)
        setup["inputs_s"] = wl.prepare_inputs()
        t0 = time.perf_counter()
        wl.warm_up()
        setup["warmup_s"] = time.perf_counter() - t0
        # the JVM and the Python workers it starts; not this process, which
        # also holds the benchmark's own inputs and checks
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            wl.timed_loop(args.seconds)
        problems, n_failed = wl.check()
        if args.trace:
            wl.count_offered()
            spans = Spans(spark.sparkContext)
            traced = wl.run_pass(len(wl.walls), spans)
            wl.release()
            problems += wl.check()[0]
            if wl.traces_curate:
                curate = CurateQueries(spark, str(WORK), args.seed)
                curate.run_pass(Spans())  # warm-up
                curate_spans = Spans(spark.sparkContext)
                curate.run_pass(curate_spans)
                problems += curate.check()
    finally:
        _stop_spark(spark)

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    if args.trace:
        walls = spans.walls()
        ledger = parse_event_log(str(WORK / "eventlog"))
        own = metrics.extract_layers(
            kernel_probe(wl.todo_corpus(), args.seed), ledger, walls, traced.mode, wl.offered,
            cores,
        )
        if wl.traces_curate:
            own.update(metrics.curate_layers(ledger, curate_spans.walls(), cores))
        own["process.peak_rss_mb"] = rss.peak_mb
        result = metrics.per_layer(setup, own, ledger, walls, traced.wall_s, wl.walls, cores)
    else:
        todo = wl.todo_corpus()
        result = metrics.end_to_end(
            setup, wl.walls, len(todo.docs), todo.n_spans(), n_failed + len(problems))
    shutil.rmtree(WORK, ignore_errors=True)
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(
        f"perfbench workload={wl.name} seed={args.seed} docs={len(wl.todo)} "
        f"failed_docs={n_failed} passes={len(wl.walls)} peak_rss_mb={rss.peak_mb:.0f} "
        f"pass_walls_s={[round(w, 3) for w in wl.walls]}"
    )
    print(json.dumps({
        "correct": not problems,
        "attempted": len(wl.todo) * len(wl.walls),
        "failed": len(problems),
        "metrics": result,
    }))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
