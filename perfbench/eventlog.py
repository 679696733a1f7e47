"""Per-query stage figures from an uncompressed Spark event log.

Jobs map to queries through the job description set with
`SparkContext.setJobDescription`; every task that ended in a stage of such
a job is charged to that description.
"""

from __future__ import annotations

import json
from dataclasses import dataclass


@dataclass
class QueryStages:
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def parse(lines) -> dict[str, QueryStages]:
    """Event-log JSON lines -> job description -> summed task metrics."""
    stage_owner: dict[int, str] = {}
    out: dict[str, QueryStages] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc is None:
                continue
            out.setdefault(desc, QueryStages())
            for sid in ev.get("Stage IDs", ()):
                stage_owner[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            desc = stage_owner.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if desc is None or not m:
                continue
            q = out[desc]
            q.tasks += 1
            q.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            q.shuffle_write_mb += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
            )
            q.spill_mb += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
    return out


def parse_file(path: str) -> dict[str, QueryStages]:
    with open(path) as f:
        return parse(f)
