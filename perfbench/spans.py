"""Spans around the package's public entry points, recorded from outside it.

``Tracer.install()`` patches the entry points listed in ``PATCHES`` for the
life of a traced run and ``uninstall()`` restores them. Each span has a name,
start, end and parent; spans are kept in memory and written out once at the
end. While a span is open its id is the Spark job description, so every job
started inside it carries the id into the event log and ``spark_by_span``
can attribute tasks, shuffle bytes, executor run time and GC time to it.

Attribution caveat: ``run_pipeline`` builds its plans lazily, so the
extraction scan and the edge materialization run inside the ``Table.commit``
spans that write their results (mentions, co_edges, nodes, edges), not in
spans of their own.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

# (module, attribute path, span name). A name ending in ":" gets the table
# directory's base name appended, so commits and reads split by table.
PATCHES = [
    ("kg_obo_spark.sources.tableio", "Table.commit", "tableio.commit:"),
    ("kg_obo_spark.sources.tableio", "Table.read", "tableio.read:"),
    ("kg_obo_spark.sources.tableio", "Lock.acquire", "tableio.lock_acquire"),
    ("kg_obo_spark.sources.tableio", "Lock.release", "tableio.lock_release"),
    ("kg_obo_spark.plans.tracking", "TrackingStore.pending_units", "tracking.pending_units"),
    ("kg_obo_spark.plans.tracking", "TrackingStore.log_stage", "tracking.log_stage"),
    ("kg_obo_spark.plans.tracking", "TrackingStore.mark_units_done", "tracking.mark_units_done"),
    ("kg_obo_spark.plans.tracking", "TrackingStore.track_version", "tracking.track_version"),
    ("kg_obo_spark.plans.tracking", "TrackingStore.read_tracking", "tracking.read_tracking"),
    ("kg_obo_spark.operators.canonicalize", "canonical_map", "canonicalize.canonical_map"),
    # pipeline and graph_stats import these names into their own namespace
    ("kg_obo_spark.plans.pipeline", "canonical_map", "canonicalize.canonical_map"),
    ("kg_obo_spark.operators.graph_stats", "connected_components", "canonicalize.connected_components"),
    ("kg_obo_spark.operators.graph_stats", "graph_stats", "graph_stats.graph_stats"),
    ("kg_obo_spark.operators.graph_stats", "degree_frame", "graph_stats.degree_frame"),
    ("kg_obo_spark.operators.graph_stats", "component_stats", "graph_stats.component_stats"),
    ("kg_obo_spark.operators.graph_stats", "singleton_count", "graph_stats.singleton_count"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count", "dataframe.count"),
    # graph_stats' degree aggregate is the first() that follows degree_frame
    ("pyspark.sql.classic.dataframe", "DataFrame.first", "dataframe.first"),
]

TABLES = ["mentions", "co_edges", "nodes", "edges", "lineage", "tracking"]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"span:{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                f"span:{self._stack[-1]}" if self._stack else None
            )

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name
            if name.endswith(":"):
                label = name + os.path.basename(getattr(args[0], "root", "?"))
            with tracer.span(label):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, path, name in PATCHES:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ span algebra


def children(spans: list[dict]) -> dict:
    out: dict = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_times(spans: list[dict]) -> dict:
    """span id -> duration minus the part its children cover (children are
    sequential: one driver thread)."""
    kids = children(spans)
    out = {}
    for s in spans:
        covered = sum(
            min(c["end"], s["end"]) - max(c["start"], s["start"])
            for c in kids.get(s["id"], [])
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def nesting_errors(spans: list[dict]) -> list[str]:
    """Children outside their parent, or negative self times."""
    by_id = {s["id"]: s for s in spans}
    errs = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            errs.append(f"span {s['id']} {s['name']} not closed")
            continue
        p = by_id.get(s["parent"])
        if p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            errs.append(f"span {s['id']} {s['name']} outside parent {p['id']}")
    for sid, st in self_times(spans).items():
        if st < -1e-9:
            errs.append(f"span {sid} self time {st}")
    return errs


def descendants(spans: list[dict], root_ids) -> set:
    kids = children(spans)
    out, todo = set(), list(root_ids)
    while todo:
        sid = todo.pop()
        if sid in out:
            continue
        out.add(sid)
        todo.extend(c["id"] for c in kids.get(sid, []))
    return out


def total(spans: list[dict], pred) -> float:
    return sum(s["end"] - s["start"] for s in spans if pred(s))


# ------------------------------------------------------------- event log


def spark_by_span(event_dir: str) -> dict:
    """span id -> {jobs, tasks, shuffle_write_bytes, executor_run_s, gc_s}
    from the Spark event log (jobs without a span id fall under None)."""
    # Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app> files
    files = sorted(
        glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    stage_span: dict = {}
    out: dict = {}

    def slot(sid):
        return out.setdefault(sid, {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0,
                                    "executor_run_s": 0.0, "gc_s": 0.0})

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    sid = int(desc[5:]) if desc.startswith("span:") else None
                    slot(sid)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rec = slot(stage_span.get(ev.get("Stage ID")))
                    rec["tasks"] += 1
                    rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    rec["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return out
