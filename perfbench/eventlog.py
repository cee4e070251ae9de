"""Offline parser for Spark's JSON event log, and the per-layer report.

Every job goes to the innermost span whose interval holds the job's submit
time: job groups do not reliably reach the `foreachBatch` thread, wall
clock intervals do. Jobs that land in a probe span are the tracer's own
row counts and count toward no layer; jobs outside every span belong to
untimed work and are ignored.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Iterable

from perfbench.trace import LAYERS, PROBE, ROOT, Counters, Span

LAYER_FIELDS = [
    ("self_s", "s"), ("task_busy_s", "s"), ("task_cpu_s", "s"),
    ("idle_core_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("tasks_failed", "count"), ("shuffle_write_mb", "MB"),
    ("input_rows", "rows"), ("rows_out", "rows"),
]
EXTRA_METRICS = [
    ("exact.reps_per_doc", "ratio"),
    ("signatures.docs_signed", "count"),
    ("signatures.reuse_ratio", "ratio"),
    ("lsh.candidates", "count"),
    ("lsh.verified_per_candidate", "ratio"),
    ("lsh.dropped_slots", "count"),
    ("cluster.driver_path", "count"),
    ("warehouse.bytes_written_mb", "MB"),
    ("warehouse.files_written", "count"),
    ("run.spark_jobs", "count"),
    ("run.wall_s", "s"),
    ("run.tracing_overhead_s", "s"),
    ("run.span_coverage", "ratio"),
]
PER_LAYER = [(f"{layer}.{f}", unit) for layer in LAYERS
             for f, unit in LAYER_FIELDS] + EXTRA_METRICS


@dataclass
class Job:
    id: int
    submit: float              # epoch ms
    tasks: int = 0
    tasks_failed: int = 0
    busy_ms: float = 0.0       # executor run time
    cpu_ns: float = 0.0        # executor (JVM thread) CPU time
    shuffle_write_bytes: int = 0
    input_rows: int = 0        # records read from files, checkpoints, shuffles
    output_rows: int = 0       # records written to files


def parse_event_log(lines: Iterable[str]) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], float(ev["Submission Time"]))
            jobs[job.id] = job
            # a stage's tasks run in the first job that lists it; later
            # jobs list it again only as a skipped parent
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.tasks_failed += bool(info.get("Failed") or info.get("Killed"))
            job.busy_ms += m.get("Executor Run Time", 0)
            job.cpu_ns += m.get("Executor CPU Time", 0)
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            job.input_rows += (
                (m.get("Input Metrics") or {}).get("Records Read", 0)
                + (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            )
            job.output_rows += (m.get("Output Metrics") or {}).get(
                "Records Written", 0)
    return list(jobs.values())


def innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (
                best is None or (s.start, s.id) > (best.start, best.id)):
            best = s
    return best


def union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def _self_ms(s: Span, kids: list[Span]) -> float:
    clipped = [(max(k.start, s.start), min(k.end, s.end)) for k in kids]
    return (s.end - s.start) - union_ms(c for c in clipped if c[1] > c[0])


def layer_report(jobs: list[Job], spans: list[Span], counters: Counters,
                 cores: int, untraced_wall_s: float) -> dict[str, float]:
    kids = _children(spans)
    acc = {layer: dict.fromkeys(
        ["self_ms", "busy_ms", "cpu_ns", "jobs", "tasks", "tasks_failed",
         "shuffle_bytes", "input_rows", "rows_out", "output_rows"], 0)
        for layer in LAYERS}
    for s in spans:
        if s.layer in acc:
            acc[s.layer]["self_ms"] += _self_ms(s, kids.get(s.id, []))
            acc[s.layer]["rows_out"] += s.rows_out
    run_jobs = 0
    for job in jobs:
        owner = innermost(spans, job.submit)
        if owner is None or owner.layer == PROBE:
            continue
        run_jobs += 1
        a = acc.get(owner.layer)
        if a is None:      # the root span: driver-side work between layers
            continue
        a["jobs"] += 1
        a["tasks"] += job.tasks
        a["tasks_failed"] += job.tasks_failed
        a["busy_ms"] += job.busy_ms
        a["cpu_ns"] += job.cpu_ns
        a["shuffle_bytes"] += job.shuffle_write_bytes
        a["input_rows"] += job.input_rows
        a["output_rows"] += job.output_rows
    # a warehouse call's output is what it wrote, from Spark's own counters
    acc["warehouse"]["rows_out"] = acc["warehouse"]["output_rows"]

    out: dict[str, float] = {}
    for layer, a in acc.items():
        self_s = a["self_ms"] / 1000.0
        busy_s = a["busy_ms"] / 1000.0
        out.update({
            f"{layer}.self_s": self_s,
            f"{layer}.task_busy_s": busy_s,
            f"{layer}.task_cpu_s": a["cpu_ns"] / 1e9,
            f"{layer}.idle_core_s": max(0.0, cores * self_s - busy_s),
            f"{layer}.jobs": a["jobs"],
            f"{layer}.tasks": a["tasks"],
            f"{layer}.tasks_failed": a["tasks_failed"],
            f"{layer}.shuffle_write_mb": a["shuffle_bytes"] / (1 << 20),
            f"{layer}.input_rows": a["input_rows"],
            f"{layer}.rows_out": a["rows_out"],
        })

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    roots = [s for s in spans if s.layer == ROOT]
    wall_ms = sum(s.end - s.start for s in roots)
    layer_ms = probe_only_ms = 0.0
    for r in roots:
        ks = kids.get(r.id, [])
        covered = union_ms((k.start, k.end) for k in ks if k.layer != PROBE)
        layer_ms += covered
        probe_only_ms += union_ms((k.start, k.end) for k in ks) - covered
    sig_rows = acc["signatures"]["rows_out"]
    out.update({
        "exact.reps_per_doc": ratio(acc["exact"]["rows_out"],
                                    counters.docs_into_exact),
        "signatures.docs_signed": counters.docs_signed,
        "signatures.reuse_ratio": ratio(sig_rows - counters.docs_signed,
                                        sig_rows),
        "lsh.candidates": acc["lsh"]["rows_out"],
        "lsh.verified_per_candidate": ratio(acc["verify"]["rows_out"],
                                            acc["lsh"]["rows_out"]),
        "lsh.dropped_slots": counters.dropped_slots,
        "cluster.driver_path": int(counters.driver_cc_calls > 0),
        "warehouse.bytes_written_mb": counters.bytes_written / (1 << 20),
        "warehouse.files_written": counters.files_written,
        "run.spark_jobs": run_jobs,
        "run.wall_s": wall_ms / 1000.0,
        "run.tracing_overhead_s": wall_ms / 1000.0 - untraced_wall_s,
        # probe time is tracing overhead, so it is neither covered nor a gap
        "run.span_coverage": ratio(layer_ms, wall_ms - probe_only_ms),
    })
    return out
