"""Per-layer numbers from an uncompressed Spark event log plus the spans.

A job's layer is its ``spark.jobGroup.id`` property (set by the tracer);
a task's layer is that of the stage that ran it. ``attribute`` splits the
root span's wall time among layers: each instant goes to the innermost
layer span covering it; an instant covered only by the root goes to the
layer of the Spark job running then, else stays unattributed.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def read_events(log_dir: str) -> list:
    """Every event from the (rolling or single-file) logs under ``log_dir``."""
    paths = []
    for dirpath, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
                raise ValueError(f"compressed event log {n}: set spark.eventLog.compress=false")
            if not n.startswith((".", "appstatus")):  # skip .crc files and status markers
                paths.append(os.path.join(dirpath, n))
    events = []
    for p in sorted(paths):
        with open(p) as f:
            events += [json.loads(line) for line in f if line.strip()]
    if not events:
        raise ValueError(f"no event log under {log_dir}")
    return events


def job_table(events: list, t0: float, t1: float) -> tuple[list, dict]:
    """Jobs submitted in [t0, t1] as (group, start_s, end_s, job_id), and
    task totals per group for the stages those jobs ran."""
    stage_group: dict = {}
    starts: dict = {}
    ends: dict = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "pipeline"
            starts[e["Job ID"]] = (group, e["Submission Time"] / 1000.0, e.get("Stage IDs", []))
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"] / 1000.0
    jobs = []
    for jid, (group, start, stage_ids) in starts.items():
        if t0 <= start <= t1:
            jobs.append((group, start, ends.get(jid, start), jid))
            for s in stage_ids:
                stage_group.setdefault(s, group)
    tasks: dict = defaultdict(lambda: defaultdict(float))
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stage_group:
            continue
        m = e.get("Task Metrics") or {}
        acc = tasks[stage_group[e["Stage ID"]]]
        acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        acc["tasks"] += 1
    return sorted(jobs, key=lambda j: j[1]), tasks


def attribute(spans: list, root: int, jobs: list) -> dict:
    """Self time per layer inside spans[root]; key ``None`` is unattributed."""
    r = spans[root]
    inner = [(i, s) for i, s in enumerate(spans) if i != root and r.start <= s.start and s.end <= r.end]
    depth = {}
    for i, s in inner:
        d, p = 0, s.parent
        while p is not None and p != root:
            d, p = d + 1, spans[p].parent
        depth[i] = d
    cuts = sorted({r.start, r.end, *(t for _, s in inner for t in (s.start, s.end)),
                   *(t for j in jobs for t in (j[1], j[2]) if r.start < t < r.end)})
    out: dict = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        cover = [(depth[i], s.name) for i, s in inner if s.start <= mid < s.end]
        if cover:
            layer = max(cover)[1]
        else:
            running = [j[0] for j in jobs if j[1] <= mid < j[2]]
            layer = running[-1] if running and running[-1] != "pipeline" else None
        out[layer] += b - a
    return dict(out)
