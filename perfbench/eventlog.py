"""Per-layer metrics from an uncompressed, unrolled Spark event log.

Every job the benchmark starts runs under a job group named
``<op tag>:<layer>`` (program calls) or ``<op tag>:<layer>:trace``
(the trace's own materializations); stages inherit the group through
their submission properties, so each task maps to one layer of one op.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _split_group(group: str | None) -> tuple[str, str, bool] | None:
    """``"t3:dedup.verify:trace"`` -> ("t3", "dedup.verify", True)."""
    if not group or ":" not in group:
        return None
    tag, rest = group.split(":", 1)
    trace = rest.endswith(":trace")
    return tag, rest[: -len(":trace")] if trace else rest, trace


def _stage_groups(events: list[dict]) -> dict[int, str]:
    out = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            out.setdefault(sid, (ev.get("Properties") or {}).get(GROUP_KEY))
    return out


def layer_stats(events: list[dict], tags: list[str], stats: tuple[str, ...]) -> dict[str, float]:
    """``<layer>.<stat>`` averaged per op over the ops in ``tags``;
    program and trace jobs of a layer both count."""
    tagset = set(tags)
    acc: dict[str, float] = defaultdict(float)
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        g = _split_group((ev.get("Properties") or {}).get(GROUP_KEY))
        if g and g[0] in tagset:
            acc[f"{g[1]}.jobs"] += 1
    stage_group = _stage_groups(events)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        g = _split_group(stage_group.get(ev["Stage ID"]))
        if not g or g[0] not in tagset:
            continue
        layer = g[1]
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        acc[f"{layer}.tasks"] += 1
        acc[f"{layer}.failed_tasks"] += 1 if info.get("Failed") else 0
        acc[f"{layer}.busy_s"] += m.get("Executor Run Time", 0) / 1000
        acc[f"{layer}.gc_s"] += m.get("JVM GC Time", 0) / 1000
        sw = m.get("Shuffle Write Metrics") or {}
        acc[f"{layer}.shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        acc[f"{layer}.spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / 1e6
    n = max(len(tagset), 1)
    return {k: v / n for k, v in acc.items() if k.rsplit(".", 1)[1] in stats}


def binary_file_passes(events: list[dict], tags: list[str]) -> float:
    """binaryFile records read per op by the program's own jobs (the
    trace's materializations excluded), averaged over ``tags``."""
    tagset = set(tags)
    scans: set[int] = set()
    for ev in events:
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        if any("binaryFile" in (r.get("Scope") or "") for r in info.get("RDD Info", [])):
            scans.add(info["Stage ID"])
    stage_group = _stage_groups(events)
    records = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev["Stage ID"] not in scans:
            continue
        g = _split_group(stage_group.get(ev["Stage ID"]))
        if g and g[0] in tagset and not g[2]:
            im = (ev.get("Task Metrics") or {}).get("Input Metrics") or {}
            records += im.get("Records Read", 0)
    return records / max(len(tagset), 1)
