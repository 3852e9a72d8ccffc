"""Spans and per-layer counters from Spark's JSON event log.

A traced run tags every public engine call with a Spark job group named
after the call, and records the call's wall span on the driver.  After the
session stops, the event log is parsed into spans ``run -> call -> job ->
stage``: a job belongs to the call whose group it carries, a stage to the
job that submitted it.  Every span carries the run id, and stage spans
carry their task counters.  Spans stay in memory until the run ends.

A call's ``driver_only_s`` is its span minus the union of its job spans:
the time the call spent on the driver with no Spark job running.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_cpu_s",
    "gc_s",
    "max_task_s",
    "driver_only_s",
)


class Tracer:
    """Driver-side call spans, each under its own Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.calls: list[dict] = []
        self.marks: list[dict] = []  # named sub-spans of a call (supersteps)
        self._open: dict | None = None
        self.idle("setup")

    def idle(self, group: str) -> None:
        """Tag the jobs run between calls (checks, set-up) with ``group``."""
        self.sc.setJobGroup(group, group)

    @contextmanager
    def call(self, name: str, layer: str):
        self.sc.setJobGroup(name, layer)
        span = {"name": name, "layer": layer, "start": _now_ms()}
        self._open = span
        try:
            yield span
        finally:
            span["end"] = _now_ms()
            self.calls.append(span)
            self._open = None
            self.idle(f"{name}/check")

    def mark(self, name: str, end_ms: float, dur_s: float) -> None:
        parent = self._open["name"] if self._open else None
        self.marks.append(
            {"name": name, "parent": parent, "start": end_ms - dur_s * 1000.0, "end": end_ms}
        )


class MarkedTimings(list):
    """A ``timings_out`` list that also records when each entry arrived, so
    the engine's per-superstep durations become spans with wall times."""

    def __init__(self, tracer: Tracer | None, prefix: str):
        super().__init__()
        self.tracer = tracer
        self.prefix = prefix

    def append(self, item) -> None:
        super().append(item)
        if self.tracer is not None:
            self.tracer.mark(f"{self.prefix}/{item[0]}", _now_ms(), float(item[1]))


def _now_ms() -> float:
    return time.time() * 1000.0


# ---------------------------------------------------------------- parsing
def read_events(log_dir: str) -> list[dict]:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(os.path.join(log_dir, files[0])) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def parse(events: list[dict]) -> tuple[dict, dict]:
    """Event-log records -> ``(jobs, stages)`` keyed by job id and by
    ``(stage id, attempt)``; times in epoch milliseconds."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev["Submission Time"],
                "end": None,
                "stage_ids": set(ev["Stage IDs"]),
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "name": info.get("Stage Name", ""),
                "start": info.get("Submission Time"),
                "end": None,
                "tasks": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "executor_cpu_s": 0.0,
                "gc_s": 0.0,
                "max_task_s": 0.0,
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])]["end"] = info.get(
                "Completion Time"
            )
        elif kind == "SparkListenerTaskEnd":
            st = stages[(ev["Stage ID"], ev["Stage Attempt ID"])]
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            st["tasks"] += 1
            st["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            st["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            st["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            st["max_task_s"] = max(st["max_task_s"], (ti["Finish Time"] - ti["Launch Time"]) / 1e3)
    # a skipped stage is listed by every later job that reuses it; it ran in
    # the latest job submitted before it
    for sid, st in stages.items():
        owners = [
            j for j, job in jobs.items()
            if sid[0] in job["stage_ids"] and job["start"] <= (st["start"] or 0)
        ]
        st["job"] = max(owners) if owners else None
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def call_counters(call: dict, jobs: dict, stages: dict) -> dict:
    """The ten per-call counters (see ``COUNTERS``)."""
    mine = {j: job for j, job in jobs.items() if job["group"] == call["name"]}
    sts = [st for st in stages.values() if st.get("job") in mine]
    clipped = [
        (max(job["start"], call["start"]), min(job["end"] or call["end"], call["end"]))
        for job in mine.values()
    ]
    busy = _union_ms([iv for iv in clipped if iv[1] > iv[0]])
    return {
        "jobs": len(mine),
        "stages": len(sts),
        "tasks": sum(st["tasks"] for st in sts),
        "shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in sts),
        "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in sts),
        "spill_bytes": sum(st["spill_bytes"] for st in sts),
        "executor_cpu_s": sum(st["executor_cpu_s"] for st in sts),
        "gc_s": sum(st["gc_s"] for st in sts),
        "max_task_s": max((st["max_task_s"] for st in sts), default=0.0),
        "driver_only_s": (call["end"] - call["start"] - busy) / 1e3,
    }


def layer_counters(calls: list[dict], jobs: dict, stages: dict, layers) -> dict:
    """``<layer>.<counter>`` summed over a layer's calls (``max_task_s``:
    the maximum); a layer with no call reports zeros."""
    out = {f"{layer}.{c}": 0 for layer in layers for c in COUNTERS}
    for call in calls:
        if call["layer"] not in layers:
            continue
        for c, v in call_counters(call, jobs, stages).items():
            key = f"{call['layer']}.{c}"
            out[key] = max(out[key], v) if c == "max_task_s" else out[key] + v
    return out


def jobs_within(jobs: dict, start: float, end: float) -> int:
    return sum(1 for job in jobs.values() if job["start"] >= start and (job["end"] or 0) <= end)


def spans(run_id: str, run: dict, calls: list[dict], marks: list[dict], jobs: dict, stages: dict):
    """Flatten the run into span records ``run -> call -> job -> stage``
    (superstep marks hang under their call)."""
    by_group = {c["name"]: f"call:{c['name']}" for c in calls}
    yield {"run": run_id, "id": "run", "parent": None, "kind": "run", **run}
    for c in calls:
        yield {"run": run_id, "id": by_group[c["name"]], "parent": "run", "kind": "call",
               "name": c["name"], "layer": c["layer"], "start": c["start"], "end": c["end"]}
    for m in marks:
        yield {"run": run_id, "id": f"step:{m['name']}", "kind": "superstep",
               "parent": by_group.get(m["parent"], "run"), "name": m["name"],
               "start": m["start"], "end": m["end"]}
    for j, job in sorted(jobs.items()):
        yield {"run": run_id, "id": f"job:{j}", "kind": "job",
               "parent": by_group.get(job["group"], "run"), "name": f"job {j}",
               "group": job["group"], "start": job["start"], "end": job["end"]}
    for (s, a), st in sorted(stages.items()):
        yield {"run": run_id, "id": f"stage:{s}.{a}", "kind": "stage",
               "parent": f"job:{st['job']}" if st.get("job") is not None else "run",
               **{k: v for k, v in st.items() if k != "job"}}


def write_spans(path: str, records) -> int:
    n = 0
    with open(path, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec, default=str) + "\n")
            n += 1
    return n


# ------------------------------------------------------------- self-check
def self_check() -> None:
    """Attribution and ``driver_only_s`` arithmetic on a hand-made log: two
    calls, three jobs (two overlapping), one job outside any call."""

    def task(stage, launch, finish, cpu_ns, rd, wr, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 10,
                                 "Disk Bytes Spilled": spill,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": rd},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": wr}}}

    def job(j, group, start, end, stage_ids):
        return [{"Event": "SparkListenerJobStart", "Job ID": j, "Submission Time": start,
                 "Stage IDs": stage_ids, "Properties": {"spark.jobGroup.id": group}},
                {"Event": "SparkListenerJobEnd", "Job ID": j, "Completion Time": end}]

    def stage(s, group, start, end):
        return [{"Event": "SparkListenerStageSubmitted", "Properties": {"spark.jobGroup.id": group},
                 "Stage Info": {"Stage ID": s, "Stage Attempt ID": 0, "Submission Time": start}},
                {"Event": "SparkListenerStageCompleted",
                 "Stage Info": {"Stage ID": s, "Stage Attempt ID": 0, "Completion Time": end}}]

    events = (
        job(0, "a", 100, 400, [0]) + stage(0, "a", 110, 390)
        + [task(0, 120, 300, 2e8, 0, 64, 0), task(0, 120, 380, 1e8, 0, 32, 0)]
        + job(1, "a", 300, 600, [1, 2]) + stage(2, "a", 310, 590)
        + [task(2, 320, 580, 5e8, 96, 0, 8)]
        + job(2, "b", 1500, 2000, [3]) + stage(3, "b", 1510, 1990)
        + [task(3, 1520, 1700, 1e9, 0, 0, 0)]
        + job(3, "a/check", 1000, 1100, [4])
    )
    jobs, stages = parse(events)
    a = call_counters({"name": "a", "start": 0, "end": 1000}, jobs, stages)
    b = call_counters({"name": "b", "start": 1000, "end": 3000}, jobs, stages)
    want_a = {"jobs": 2, "stages": 2, "tasks": 3, "shuffle_read_bytes": 96,
              "shuffle_write_bytes": 96, "spill_bytes": 8, "executor_cpu_s": 0.8,
              "gc_s": 0.03, "max_task_s": 0.26, "driver_only_s": 0.5}
    want_b = {"jobs": 1, "stages": 1, "tasks": 1, "shuffle_read_bytes": 0,
              "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_cpu_s": 1.0,
              "gc_s": 0.01, "max_task_s": 0.18, "driver_only_s": 1.5}
    for got, want in ((a, want_a), (b, want_b)):
        for k, v in want.items():
            if abs(got[k] - v) > 1e-9:
                raise AssertionError(f"trace self-check: {k} = {got[k]}, want {v}")
    if stages[(2, 0)]["job"] != 1 or jobs_within(jobs, 0, 1000) != 2:
        raise AssertionError("trace self-check: stage/job attribution is wrong")
