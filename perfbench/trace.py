"""Measurement plumbing: layer spans, Spark event-log ledger, process RSS.

Nothing here imports the program. Spans are recorded around the
benchmark's own calls into each layer and kept in memory; the Spark side
of each layer is read back from the JSON event log (enabled through
``get_spark(extra_conf=...)`` in traced runs only), where every stage
carries the job description the benchmark set before the call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_KERNEL_SCOPES = ("MapInPandas", "MapInArrow", "PythonMapInArrow")
RSS_INTERVAL_S = 0.2


class Spans:
    """In-memory layer spans. With a SparkContext attached, each span also
    becomes the job description of every Spark job its calls submit, so the
    event log can be attributed to the same layer name."""

    def __init__(self, sc=None):
        self.sc = sc
        self.records: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is not None:
            self.sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, t0, time.perf_counter()))
            if self.sc is not None:
                self.sc.setJobDescription(None)

    def walls(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1 in self.records:
            out[name] += t1 - t0
        return dict(out)


@dataclass
class LayerStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    records_written: int = 0
    python_run_s: float = 0.0
    python_bytes_in: int = 0
    kernel_stage_wall_s: float = 0.0
    kernel_task_s: list[float] = field(default_factory=list)

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_read_bytes + self.shuffle_write_bytes

    @property
    def straggler_ratio(self) -> float:
        """max ÷ median task time of the Python-kernel stages (1.0 = even)."""
        t = self.kernel_task_s
        if not t or statistics.median(t) <= 0:
            return 0.0
        return max(t) / statistics.median(t)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write one uncompressed JSON event-log file
    per application (Spark 4 rolls the log into a directory by default)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _event_files(log_dir: str) -> list[str]:
    """Event-log files of every application in ``log_dir`` (the hidden
    ``.crc`` checksum files skipped)."""
    return [
        p for p in sorted(glob.glob(os.path.join(log_dir, "*")))
        if not os.path.basename(p).startswith(".")
    ]


def parse_event_log(log_dir: str) -> dict[str, LayerStats]:
    """Per job description: job, stage and task counts, task time, JVM CPU,
    shuffle, spill, output and Python-worker totals. Stages whose plan runs
    a Python map kernel also record their wall and per-task times."""
    events = []
    for f in _event_files(log_dir):
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    stage_tag: dict[int, str] = {}
    kernel_stages: set[int] = set()
    out: dict[str, LayerStats] = defaultdict(LayerStats)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get("spark.job.description") or ""
            out[tag].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            tag = (e.get("Properties") or {}).get("spark.job.description") or ""
            stage_tag[info["Stage ID"]] = tag
            scopes = " ".join(str(r.get("Scope", "")) for r in info["RDD Info"])
            if any(s in scopes for s in PYTHON_KERNEL_SCOPES):
                kernel_stages.add(info["Stage ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = out[stage_tag.get(info["Stage ID"], "")]
            st.stages += 1
            if info["Stage ID"] in kernel_stages:
                st.kernel_stage_wall_s += (
                    info["Completion Time"] - info["Submission Time"]
                ) / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = out[stage_tag.get(sid, "")]
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            dur = (ti["Finish Time"] - ti["Launch Time"]) / 1e3
            st.tasks += 1
            st.task_s += dur
            st.task_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            rd = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            o = tm.get("Output Metrics") or {}
            st.bytes_written += o.get("Bytes Written", 0)
            st.records_written += o.get("Records Written", 0)
            for a in ti.get("Accumulables", []):
                if a.get("Name") == "time to run Python workers":
                    st.python_run_s += int(a.get("Update", 0)) / 1e3
                elif a.get("Name") == "data sent to Python workers":
                    st.python_bytes_in += int(a.get("Update", 0))
            if sid in kernel_stages:
                st.kernel_task_s.append(dur)
    return dict(out)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Samples the summed RSS of the process tree under ``root`` from /proc
    every RSS_INTERVAL_S on a background thread and keeps the peak."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
