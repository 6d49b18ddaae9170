"""Spark event log -> per job-group stage rows.

The benchmark tags every action it times with a job group named after the
layer it measures (`SparkContext.setJobGroup`), so each layer's jobs,
stages and task metrics can be read back from the uncompressed,
non-rolling event log that the traced run turns on from outside the
package.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# SQL metrics that PySpark's Arrow UDF operators attach to each task
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
ROWS_OUT = "number of output rows"


@dataclass
class Stage:
    id: int
    name: str
    tasks: int = 0
    submitted: float = 0.0       # epoch seconds
    completed: float = 0.0
    run_s: float = 0.0           # summed executor run time
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    py_run_s: float = 0.0
    rows_out: int = 0            # summed "number of output rows"

    @property
    def wall_s(self) -> float:
        return max(0.0, self.completed - self.submitted)


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stage_ids: list = field(default_factory=list)


def _accum(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Update"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage(sid, ""))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                e["Submission Time"] / 1e3, stage_ids=list(e["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.name = info["Stage Name"]
            st.submitted = info.get("Submission Time", 0) / 1e3
            st.completed = info.get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            self._task(e)

    def _task(self, e: dict) -> None:
        st = self._stage(e["Stage ID"])
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        st.tasks += 1
        run_ms = m.get("Executor Run Time", 0)
        duration_ms = info["Finish Time"] - info["Launch Time"]
        st.run_s += run_ms / 1e3
        st.gc_s += m.get("JVM GC Time", 0) / 1e3
        st.scheduler_delay_s += max(0, duration_ms - run_ms
                                    - m.get("Executor Deserialize Time", 0)
                                    - m.get("Result Serialization Time", 0)
                                    - info.get("Getting Result Time", 0)) / 1e3
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        st.fetch_wait_s += rd.get("Fetch Wait Time", 0) / 1e3
        st.shuffle_read_bytes += (rd.get("Local Bytes Read", 0)
                                  + rd.get("Remote Bytes Read", 0))
        st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
        st.shuffle_write_records += wr.get("Shuffle Records Written", 0)
        acc = _accum(info)
        st.py_sent_bytes += int(acc.get(PY_SENT, 0))
        st.py_returned_bytes += int(acc.get(PY_RETURNED, 0))
        st.py_run_s += acc.get(PY_RUN, 0) / 1e3
        st.rows_out += int(acc.get(ROWS_OUT, 0))

    # -- queries -------------------------------------------------------------
    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def stages_in(self, group: str) -> list[Stage]:
        """Stages that ran (had tasks) for the group's jobs, in id order."""
        ids = sorted({s for j in self.jobs_in(group) for s in j.stage_ids})
        return [self.stages[s] for s in ids
                if s in self.stages and self.stages[s].tasks]

    def total(self, group: str, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages_in(group))

    def job_spans(self, group: str) -> list[tuple[float, float]]:
        return [(j.start, j.end) for j in self.jobs_in(group)]
