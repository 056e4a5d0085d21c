"""Roll Spark's own task metrics up by job-description tag.

The traced run enables an uncompressed, non-rolling event log and runs each
layer prefix under ``setJobDescription(<tag>)``. Every ``SparkListenerJobStart``
carries the tag in its properties and lists its stage ids; every
``SparkListenerTaskEnd`` names its stage. A stage listed by several jobs (a
shuffle reused by a later job is listed again but skipped) belongs to the
first job that listed it, because that is the job whose tasks ran it.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class TagTotals:
    """Summed task metrics of every task that ran under one tag."""

    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    rows_out: int = 0
    n_tasks: int = 0
    # run time (s) of each task, per stage id
    stage_task_s: dict[int, list[float]] = field(default_factory=dict)

    @property
    def py_wait_s(self) -> float:
        return self.task_s - self.jvm_cpu_s

    @property
    def task_skew(self) -> float:
        """max / median task run time of the tag's last stage."""
        if not self.stage_task_s:
            return 1.0
        times = self.stage_task_s[max(self.stage_task_s)]
        return max(times) / max(statistics.median(times), 1e-3)


def event_log_file(log_dir: str) -> str:
    """The single application log a finished session left in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def rollup(path: str) -> dict[str, TagTotals]:
    stage_tag: dict[int, str] = {}
    out: dict[str, TagTotals] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get("spark.job.description")
                if tag is None:
                    continue
                for sid in ev["Stage IDs"]:
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if tag is None or m is None:
                    continue
                t = out.setdefault(tag, TagTotals())
                run_s = m["Executor Run Time"] / 1e3
                t.task_s += run_s
                t.jvm_cpu_s += m["Executor CPU Time"] / 1e9
                t.gc_s += m["JVM GC Time"] / 1e3
                t.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                t.spill_mb += m["Disk Bytes Spilled"] / 2**20
                t.rows_out += m["Output Metrics"]["Records Written"]
                t.n_tasks += 1
                t.stage_task_s.setdefault(ev["Stage ID"], []).append(run_s)
    return out
