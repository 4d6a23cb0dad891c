"""Stdlib-only reader for an uncompressed, non-rolling Spark event log.

Joins task metrics to the job group that ran them: a job's start event
carries `spark.jobGroup.id` and its stage ids; a task end event carries its
stage id. A stage listed by several jobs (a reused shuffle stage shows up
as skipped in later jobs) belongs to the first job that lists it, which is
the one that ran its tasks.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

PYTHON_TIME = "time to run Python workers"


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    python_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "GroupMetrics") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_groups(path: Path) -> dict[str, GroupMetrics]:
    """Per-job-group task metrics from one application's event log. Jobs
    run outside any group are keyed by ""."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = {}
    mb = 1 << 20
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id") or ""
                out.setdefault(group, GroupMetrics()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                g = out.setdefault(stage_group.get(ev.get("Stage ID"), ""),
                                   GroupMetrics())
                tm = ev.get("Task Metrics") or {}
                g.tasks += 1
                g.executor_run_s += _num(tm.get("Executor Run Time")) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                g.shuffle_read_mb += (_num(sr.get("Remote Bytes Read"))
                                      + _num(sr.get("Local Bytes Read"))) / mb
                sw = tm.get("Shuffle Write Metrics") or {}
                g.shuffle_write_mb += _num(sw.get("Shuffle Bytes Written")) / mb
                g.spill_mb += _num(tm.get("Disk Bytes Spilled")) / mb
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PYTHON_TIME:
                        g.python_s += _num(acc.get("Update")) / 1e3
    return out


def find_log(log_dir: Path, app_id: str) -> Path:
    """The finished log of `app_id` (written after the session stops)."""
    path = log_dir / app_id
    if not path.exists():
        raise FileNotFoundError(f"no finished event log {path}")
    return path
