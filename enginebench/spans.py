"""Spans around the engine's public layer calls, and the reducer that joins
them with Spark's JSON event log.

A span sets the Spark local property ``bench.span`` (and the job
description) while it is open, so every job, stage and task Spark runs on
its behalf carries the id of the innermost open span — the event log
records those properties on JobStart and StageSubmitted.  Layer calls the
engine makes internally (commits, lineage, expiry, state writes) are
wrapped from outside by patching the public methods on their classes;
no package file is edited.  With tracing off, ``span`` is a no-op and
nothing is patched.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from contextlib import contextmanager

from host import dir_bytes

TASK_FIELDS = ("jobs", "stages", "tasks", "executor_cpu_s",
               "shuffle_write_bytes", "spill_bytes", "gc_s")


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # None: tracing off
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _label(self, rec: dict | None) -> None:
        self.sc.setLocalProperty("bench.span", rec and rec["id"])
        self.sc.setJobDescription(rec and rec["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": f"s{len(self.spans)}", "name": name, "phase": self.phase,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "t0": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec)
        self._label(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the store's public layer calls in spans named after their
    modules.  Called only for traced runs."""
    from pyg_timeseries_spark.plans.checkpoint import RollupStore

    tracer.wrap(RollupStore, "ingest", "checkpoint.ingest")
    tracer.wrap(RollupStore, "record_lineage", "checkpoint.record_lineage")
    tracer.wrap(RollupStore, "expire", "checkpoint.expire")
    tracer.wrap(RollupStore, "expire_tokens", "checkpoint.expire")
    tracer.wrap(RollupStore, "write_state", "ewm.state_write")

    commit = RollupStore.commit_partitions

    @functools.wraps(commit)
    def commit_partitions(store, name, df, touched_parts, *a, **kw):
        with tracer.span("checkpoint.commit_partitions") as rec:
            if name == "tokens_1m":
                with tracer.span("rollup.tokens"):
                    version = commit(store, name, df, touched_parts, *a, **kw)
            else:
                version = commit(store, name, df, touched_parts, *a, **kw)
        files = [f for f in _walk_files(store._table_dir(name, version))
                 if f.endswith(".parquet")]
        rec["files_written"] = len(files)
        rec["bytes_written"] = sum(os.lstat(f).st_size for f in files)
        return version

    RollupStore.commit_partitions = commit_partitions

    expire_snapshots = RollupStore.expire_snapshots

    @functools.wraps(expire_snapshots)
    def expire_snapshots_traced(store, *a, **kw):
        before = dir_bytes(store.path)
        with tracer.span("checkpoint.expire_snapshots") as rec:
            out = expire_snapshots(store, *a, **kw)
        rec["bytes_reclaimed"] = before - dir_bytes(store.path)
        return out

    RollupStore.expire_snapshots = expire_snapshots_traced


def _walk_files(path: str):
    for dirpath, _, files in os.walk(path):
        for fn in files:
            yield os.path.join(dirpath, fn)


def plan_count(df, pattern: str, plan: str = "executedPlan") -> int:
    """Occurrences of ``pattern`` in one of the DataFrame's query plans."""
    text = getattr(df._jdf.queryExecution(), plan)().toString()
    return len(re.findall(pattern, text))


def exchanges(df) -> int:
    return plan_count(df, r"(?<![A-Za-z])Exchange ")


def parquet_scans(df) -> int:
    return plan_count(df, r"Relation \[", plan="optimizedPlan")


# -- event-log reduction -------------------------------------------------------

def reduce_event_log(path: str) -> dict[str | None, dict]:
    """Per span id: jobs, stages and task metrics from a Spark JSON event
    log.  Stages and tasks are attributed through the properties recorded
    on StageSubmitted, so a stage belongs to the span that ran it."""
    out: dict[str | None, dict] = {}
    stage_span: dict[tuple, str | None] = {}

    def acc(span):
        return out.setdefault(span, dict.fromkeys(TASK_FIELDS, 0))

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                acc(e.get("Properties", {}).get("bench.span"))["jobs"] += 1
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_span[key] = e.get("Properties", {}).get("bench.span")
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                acc(stage_span.get((info["Stage ID"], info["Stage Attempt ID"])))[
                    "stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                a = acc(stage_span.get((e["Stage ID"], e["Stage Attempt ID"])))
                a["tasks"] += 1
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                a["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
    return out


def self_seconds(rec: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    covered, end = 0.0, rec["t0"]
    for c in sorted(children, key=lambda c: c["t0"]):
        lo, hi = max(c["t0"], end), min(c["t1"], rec["t1"])
        if hi > lo:
            covered += hi - lo
            end = hi
    return rec["t1"] - rec["t0"] - covered


def layer_totals(spans: list[dict], by_span: dict) -> dict:
    """Sum per span name over the timed phase: inclusive seconds ``s``, ``self_s``,
    the task fields (inclusive of descendants) and any counts the span
    recorded itself."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def inclusive(s) -> dict:
        tot = dict(by_span.get(s["id"], dict.fromkeys(TASK_FIELDS, 0)))
        for c in kids.get(s["id"], []):
            for k, v in inclusive(c).items():
                tot[k] += v
        return tot

    totals: dict[str, dict] = {}
    for s in spans:
        if s["phase"] != "timed":
            continue
        t = totals.setdefault(s["name"], {"count": 0, "s": 0.0, "self_s": 0.0})
        t["count"] += 1
        t["s"] += s["t1"] - s["t0"]
        t["self_s"] += self_seconds(s, kids.get(s["id"], []))
        for k, v in inclusive(s).items():
            t[k] = t.get(k, 0) + v
        for k, v in s.items():
            if k not in ("id", "name", "phase", "parent", "t0", "t1"):
                t[k] = t.get(k, 0) + v
    return totals
