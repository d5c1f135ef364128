"""Spans recorded around the benchmark's own calls into the package, and
Spark event-log counts attributed to them.

A span is (id, name, parent, start, end) in epoch seconds, kept in
memory and written when the run ends. While a span is open its id is
the ``syncbench.span`` local property of the calling thread, so every
Spark job the call submits carries it in the event log's JobStart
properties; a job without the property (none are expected) falls back
to the innermost span open at its submission time."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

SPAN_PROPERTY = "syncbench.span"


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.open(name, **attrs)
        try:
            yield rec
        finally:
            self.close(rec)

    def open(self, name: str, **attrs) -> dict:
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack.pop()
        self.sc.setLocalProperty(SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    def add(self, name: str, start: float, end: float, parent: dict, **attrs) -> dict:
        """A span measured after the fact (its start was observed through a
        callback rather than around a call)."""
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"],
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec


def read_event_log(event_dir: str) -> list[dict]:
    """Events of the single application logged under ``event_dir``."""
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    with open(os.path.join(event_dir, names[0]), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def attribute(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Per span id (own jobs only, not children): jobs, stages, tasks,
    executor run/CPU/GC seconds, shuffle and spill bytes, records read,
    and the [submit, complete] interval of each job."""
    by_id = {s["id"]: s for s in spans}

    def innermost(t: float):
        best = None
        for s in spans:
            if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else None

    job_span, job_iv, stage_job = {}, {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            prop = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            sid = int(prop) if prop not in (None, "") and int(prop) in by_id else innermost(e["Submission Time"] / 1000)
            job_span[e["Job ID"]] = sid
            job_iv[e["Job ID"]] = [e["Submission Time"] / 1000, None]
            for st in e.get("Stage IDs", []):
                stage_job.setdefault(st, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_iv:
            job_iv[e["Job ID"]][1] = e["Completion Time"] / 1000
    out: dict[int, dict] = {}

    def acc(sid) -> dict:
        return out.setdefault(sid, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 0,
            "records_written": 0, "bytes_written": 0, "intervals": [],
        })

    for job, sid in job_span.items():
        a = acc(sid)
        a["jobs"] += 1
        a["intervals"].append(job_iv[job])
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            job = stage_job.get(e["Stage Info"]["Stage ID"])
            if job is not None:
                acc(job_span[job])["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            a = acc(job_span[job])
            a["tasks"] += 1
            a["run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            a["records_written"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
            a["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def subtree(spans: list[dict], root: dict) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def children(spans: list[dict], root: dict) -> list[dict]:
    return [s for s in spans if s["parent"] == root["id"]]


def covered(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b if b is not None else hi, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def rollup(spans: list[dict], counts: dict[int, dict], root: dict) -> dict:
    """Event-log counts of ``root`` and all its descendants, plus the part
    of its wall during which no job ran (``driver_gap_s``)."""
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 0,
           "records_written": 0, "bytes_written": 0}
    ivs = []
    for s in subtree(spans, root):
        c = counts.get(s["id"])
        if c:
            for k in tot:
                tot[k] += c[k]
            ivs.extend(c["intervals"])
    wall = root["end"] - root["start"]
    tot["wall_s"] = wall
    tot["driver_gap_s"] = wall - covered(ivs, root["start"], root["end"])
    tot["unattributed_s"] = wall - covered(
        [(c["start"], c["end"]) for c in children(spans, root)], root["start"], root["end"])
    return tot
