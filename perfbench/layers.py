"""Fold Spark's event log and the benchmark's own spans into per-layer
metrics.

Every op runs under ``setJobGroup(<op span id>)``, so each Spark job,
stage and task in the event log joins back to the op that caused it.
Spans (op -> ``workload.prepared`` / ``engine.action`` -> Spark job ->
Spark stage) share the op's id; they are kept in memory by the harness
and written once at the end of a traced run.

Layer self time is a span's duration minus the part of it that its
child spans cover, summed along the op's blocking path:

- ``self.bench_s``     op span outside both children (harness overhead)
- ``self.workload_s``  ``prepared`` outside any Spark job (Python plan build)
- ``self.driver_s``    the ``noop`` action outside any Spark job
                       (analysis, optimisation, AQE re-planning, py4j)
- ``self.scheduler_s`` Spark jobs running with no stage running
- ``self.stages_s``    stages running (the executed work)
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

_AQE_UPDATE = '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"'
_EXEC_ID = re.compile(r'"executionId":(\d+)')
#: events folded here; the rest (plan descriptions, accumulator
#: updates) are skipped without being parsed
_WANTED = tuple(
    '{"Event":"' + e
    for e in (
        "SparkListenerJobStart",
        "SparkListenerJobEnd",
        "SparkListenerStageSubmitted",
        "SparkListenerStageCompleted",
        "SparkListenerTaskEnd",
    )
)
_PYTHON_METRICS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_to",
    "data returned from Python workers": "bytes_from",
}
MB = 1024 * 1024


@dataclass
class Stage:
    sid: int
    group: str | None = None
    submit: float | None = None
    complete: float | None = None
    parents: tuple[int, ...] = ()
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    wait_s: float = 0.0
    input_b: int = 0
    output_b: int = 0
    output_rows: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    python: dict[str, float] = field(default_factory=lambda: defaultdict(float))


@dataclass
class Job:
    jid: int
    group: str | None
    execution: int | None
    start: float
    end: float | None = None


@dataclass
class EventLog:
    """One application's event log, folded."""

    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    aqe_updates: dict[int, int] = field(default_factory=lambda: defaultdict(int))


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    launches: dict[int, list[float]] = defaultdict(list)

    def stage(sid: int) -> Stage:
        return log.stages.setdefault(sid, Stage(sid))

    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith(_AQE_UPDATE):
                m = _EXEC_ID.search(line)
                if m:
                    log.aqe_updates[int(m.group(1))] += 1
                continue
            if not line.startswith(_WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                log.jobs[e["Job ID"]] = Job(
                    e["Job ID"],
                    props.get("spark.jobGroup.id"),
                    int(ex) if ex is not None else None,
                    e["Submission Time"] / 1000,
                )
            elif kind == "SparkListenerJobEnd":
                log.jobs[e["Job ID"]].end = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                st = stage(info["Stage ID"])
                st.group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stage(info["Stage ID"])
                st.submit = info.get("Submission Time", 0) / 1000
                st.complete = info.get("Completion Time", 0) / 1000
                st.parents = tuple(info.get("Parent IDs", ()))
            else:  # TaskEnd
                st = stage(e["Stage ID"])
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                st.tasks += 1
                st.failed_tasks += bool(ti.get("Failed"))
                launches[st.sid].append(ti["Launch Time"] / 1000)
                st.run_s += tm.get("Executor Run Time", 0) / 1000
                st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                st.gc_s += tm.get("JVM GC Time", 0) / 1000
                st.spill_b += tm.get("Disk Bytes Spilled", 0)
                st.input_b += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                out = tm.get("Output Metrics") or {}
                st.output_b += out.get("Bytes Written", 0)
                st.output_rows += out.get("Records Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                for acc in ti.get("Accumulables") or ():
                    key = _PYTHON_METRICS.get(acc.get("Name"))
                    if key is not None:
                        st.python[key] += float(acc.get("Update") or 0)
    for sid, times in launches.items():
        st = log.stages[sid]
        if st.submit is not None:
            st.wait_s = sum(max(0.0, t - st.submit) for t in times)
    return log


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def critical_path(stages: list[Stage]) -> float:
    """Longest chain of dependent executed stages, by stage duration."""
    by_id = {s.sid: s for s in stages if s.submit is not None and s.complete}
    memo: dict[int, float] = {}

    def longest(sid: int) -> float:
        if sid not in memo:
            st = by_id[sid]
            memo[sid] = (st.complete - st.submit) + max(
                (longest(p) for p in st.parents if p in by_id), default=0.0
            )
        return memo[sid]

    return max((longest(sid) for sid in sorted(by_id)), default=0.0)


@dataclass
class OpRecord:
    """The harness's spans for one op (epoch seconds)."""

    span_id: str
    query: str
    kind: str  # "cold" or "warm"
    start: float
    built: float  # end of ``prepared``, start of the noop action
    end: float
    hit: bool  # ``prepared`` returned the plan it returned last time
    raised: bool = False  # the op raised: its time is not a latency
    failed: bool = False  # raised, or its result failed the oracle check


def spans_of(logs: list[EventLog], ops: list[OpRecord], others: dict[str, tuple]) -> list[dict]:
    """Every span of the run: ops and their ``workload.prepared`` and
    ``engine.action`` children, the set-up and oracle-check spans
    (``others``: id -> (name, start, end)), and the Spark jobs and
    stages under them."""
    spans = []

    def add(sid, parent, name, start, end):
        spans.append({"id": sid, "parent": parent, "name": name, "start": start, "end": end})

    by_id = {o.span_id: o for o in ops}
    for o in ops:
        add(o.span_id, None, f"op:{o.query}:{o.kind}", o.start, o.end)
        add(f"{o.span_id}/prepared", o.span_id, "workload.prepared", o.start, o.built)
        add(f"{o.span_id}/action", o.span_id, "engine.action", o.built, o.end)
    for sid, (name, start, end) in others.items():
        add(sid, None, name, start, end)
    for li, log in enumerate(logs):
        group_jobs: dict[str, list[Job]] = defaultdict(list)
        for job in sorted(log.jobs.values(), key=lambda j: j.start):
            op = by_id.get(job.group)
            if op is not None:
                parent = f"{op.span_id}/{'prepared' if job.start < op.built else 'action'}"
            elif job.group in others:
                parent = job.group
            else:
                continue  # an orphan: reported by fold
            group_jobs[job.group].append(job)
            add(f"{job.group}/log{li}/job{job.jid}", parent, "spark.job", job.start, job.end)
        for st in log.stages.values():
            jobs = group_jobs.get(st.group)
            if not jobs or st.submit is None:
                continue
            job = max((j for j in jobs if j.start <= st.submit), key=lambda j: j.start, default=jobs[0])
            add(f"{st.group}/log{li}/stage{st.sid}", f"{st.group}/log{li}/job{job.jid}",
                "spark.stage", st.submit, st.complete)
    return spans


def fold(
    logs: list[EventLog],
    ops: list[OpRecord],
    other_spans: set[str],
    cores: int,
    window_s: float,
) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics over the warm ops, and the orphan jobs (jobs
    whose group is no recorded span)."""
    op_ids = {o.span_id for o in ops}
    jobs_by_op: dict[str, list[Job]] = defaultdict(list)
    stages_by_op: dict[str, list[Stage]] = defaultdict(list)
    aqe_by_op: dict[str, int] = defaultdict(int)
    orphans: list[str] = []
    for li, log in enumerate(logs):
        execs_seen: dict[int, str] = {}
        for job in log.jobs.values():
            if job.group not in op_ids and job.group not in other_spans:
                orphans.append(f"log{li}:job{job.jid}:{job.group}")
                continue
            jobs_by_op[job.group].append(job)
            if job.execution is not None:
                execs_seen[job.execution] = job.group
        for ex, group in execs_seen.items():
            aqe_by_op[group] += log.aqe_updates.get(ex, 0)
        for st in log.stages.values():
            if st.group is not None:
                stages_by_op[st.group].append(st)

    per_op: dict[str, list[float]] = defaultdict(list)
    totals: dict[str, float] = defaultdict(float)
    for o in ops:
        jobs = jobs_by_op.get(o.span_id, [])
        stages = stages_by_op.get(o.span_id, [])
        job_iv = [(j.start, j.end or o.end) for j in jobs]
        stage_iv = [(s.submit, s.complete) for s in stages if s.submit is not None]
        build = o.built - o.start
        if o.kind == "cold":
            per_op["workload.cold_build_s"].append(build)
            continue
        totals["failed_tasks"] += sum(s.failed_tasks for s in stages)
        wall = o.end - o.start
        jobs_busy = union_length(job_iv)
        stages_busy = union_length(stage_iv)
        in_build = union_length(job_iv, o.start, o.built)
        in_action = union_length(job_iv, o.built, o.end)
        per_op["workload.build_s"].append(build)
        per_op["workload.build_jobs"].append(
            sum(1 for j in jobs if j.start < o.built)
        )
        per_op["workload.prepared_hit_ratio"].append(float(o.hit))
        per_op["engine.jobs_per_op"].append(len(jobs))
        per_op["engine.stages_per_op"].append(
            sum(1 for s in stages if s.submit is not None)
        )
        per_op["engine.tasks_per_op"].append(sum(s.tasks for s in stages))
        per_op["engine.aqe_replans_per_op"].append(aqe_by_op.get(o.span_id, 0))
        per_op["engine.critical_path_s"].append(critical_path(stages))
        per_op["engine.shuffle_write_mb"].append(
            sum(s.shuffle_write_b for s in stages) / MB
        )
        per_op["engine.shuffle_read_mb"].append(
            sum(s.shuffle_read_b for s in stages) / MB
        )
        per_op["engine.spill_mb"].append(sum(s.spill_b for s in stages) / MB)
        per_op["engine.gc_s"].append(sum(s.gc_s for s in stages))
        task_s = sum(s.run_s for s in stages)
        totals["task_s"] += task_s
        per_op["engine.task_time_s"].append(task_s)
        per_op["engine.cpu_time_s"].append(sum(s.cpu_s for s in stages))
        per_op["engine.task_wait_s"].append(sum(s.wait_s for s in stages))
        per_op["engine.input_mb"].append(sum(s.input_b for s in stages) / MB)
        per_op["engine.driver_gap_s"].append(max(0.0, wall - jobs_busy))
        py = defaultdict(float)
        for s in stages:
            for k, v in s.python.items():
                py[k] += v
        per_op["python.worker_start_s"].append(py["start_ms"] / 1000)
        per_op["python.worker_init_s"].append(py["init_ms"] / 1000)
        per_op["python.exec_s"].append(py["run_ms"] / 1000)
        per_op["python.bytes_to_mb"].append(py["bytes_to"] / MB)
        per_op["python.bytes_from_mb"].append(py["bytes_from"] / MB)
        per_op["sources.output_mb"].append(sum(s.output_b for s in stages) / MB)
        per_op["sources.output_rows"].append(sum(s.output_rows for s in stages))
        per_op["self.bench_s"].append(max(0.0, wall - build - (o.end - o.built)))
        per_op["self.workload_s"].append(max(0.0, build - in_build))
        per_op["self.driver_s"].append(max(0.0, (o.end - o.built) - in_action))
        per_op["self.scheduler_s"].append(max(0.0, jobs_busy - stages_busy))
        per_op["self.stages_s"].append(stages_busy)

    metrics = {k: sum(v) / len(v) for k, v in per_op.items() if v}
    metrics["engine.failed_tasks"] = totals["failed_tasks"]
    metrics["engine.core_utilisation"] = (
        totals["task_s"] / (window_s * cores) if window_s > 0 else 0.0
    )
    metrics["trace.orphan_jobs"] = float(len(orphans))
    return metrics, orphans
