"""Spans around calls into the program's layers, with engine counters.

A span records (layer, name, parent, start, end) and runs every Spark job
it submits under its own job group, so Spark's monitoring REST API can
attribute stages to the innermost open span.  Spans live in memory and
are summarized once, after the traced section ends.  Job groups are
thread-local: every traced call must run on the thread that opened the
span.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request
from collections import defaultdict
from urllib.parse import urlparse

OUTSIDE_GROUP = "perfbench-outside"

# Spark conf for the traced session only: the UI serves the REST API.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}

ENGINE_KEYS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "spill_bytes",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_bytes",
    "shuffle_write_bytes",
)


class Tracer:
    def __init__(self, spark, name: str):
        """``name`` keeps this tracer's job groups apart from any other's."""
        self.sc = spark.sparkContext
        self.name = name
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._jobs: list[dict] = []
        self.sc.setJobGroup(OUTSIDE_GROUP, "outside any span")

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None):
        rec = {
            "id": f"perfbench-{self.name}-{len(self.spans) + len(self._stack) + 1}",
            "layer": layer,
            "name": name or layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.monotonic(),
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], rec["name"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.spans.append(rec)
            top = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(top["id"] if top else OUTSIDE_GROUP, top["name"] if top else "outside any span")

    def wrap(self, layer: str, name: str, fn):
        """``fn`` with every call inside a span."""

        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    # ---- summaries ------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """span duration minus the part its child spans cover, summed per
        span name and per layer (children run on the same thread, so they
        never overlap each other)."""
        child_time: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            own = s["end"] - s["start"] - child_time[s["id"]]
            out[s["layer"]] += own
            if s["name"] != s["layer"]:
                out[s["name"]] += own
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def top_level_time(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)

    def engine_counters(self, timeout_s: float = 20.0) -> dict[str, dict[str, float]]:
        """Per-layer Spark counters from the monitoring REST API.  Each
        completed stage is charged to the group of the lowest-numbered
        job that ran it; groups map back to spans, spans to layers."""
        layer_of = {s["id"]: s["layer"] for s in self.spans}
        jobs, stages = self._settled_status(timeout_s)
        self._jobs = jobs
        stage_group: dict[int, str] = {}
        out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(ENGINE_KEYS, 0.0))
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            layer = layer_of.get(job.get("jobGroup"))
            if layer is None:
                continue
            out[layer]["jobs"] += 1
            for sid in job["stageIds"]:
                stage_group.setdefault(sid, job["jobGroup"])
        for st in stages:
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue
            layer = layer_of.get(stage_group.get(st["stageId"]))
            if layer is None:
                continue
            c = out[layer]
            c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            c["failed_tasks"] += st["numFailedTasks"]
            c["spill_bytes"] += st["diskBytesSpilled"]
            c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            c["executor_run_s"] += st["executorRunTime"] / 1e3
            c["shuffle_bytes"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
            c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        return dict(out)

    def jobs_under(self, name: str) -> int:
        """Spark jobs submitted inside spans called ``name`` or their
        descendants (after ``engine_counters``)."""
        parent = {s["id"]: s["parent"] for s in self.spans}
        named = {s["id"] for s in self.spans if s["name"] == name}

        def under(sid):
            while sid is not None:
                if sid in named:
                    return True
                sid = parent.get(sid)
            return False

        return sum(1 for j in self._jobs if j.get("jobGroup") in parent and under(j["jobGroup"]))

    def _settled_status(self, timeout_s: float):
        """Jobs and stages once the UI has caught up with the listener bus:
        nothing running, and two reads in a row agree."""
        port = urlparse(self.sc.uiWebUrl).port
        base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = _get_json(f"{base}/jobs")
            stages = _get_json(f"{base}/stages")
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "ACTIVE" for s in stages
            )
            snap = (len(jobs), sum(s["numCompleteTasks"] for s in stages))
            if (not busy and snap == prev) or time.monotonic() > deadline:
                return jobs, stages
            prev = snap
            time.sleep(0.3)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


@contextlib.contextmanager
def patched(owner, attr: str, replacement):
    """Temporarily replace ``owner.attr``."""
    original = getattr(owner, attr)
    setattr(owner, attr, replacement)
    try:
        yield original
    finally:
        setattr(owner, attr, original)


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(total bytes, file count) of the parquet files under ``path``."""
    total, n = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return total, n


class SinkCounter:
    """Counts ``TableStore.write``/``append_batch`` calls, their wall time,
    and the parquet bytes and files they leave behind.  With ``spans`` set
    each call is also a ``sinks`` span; otherwise the write stays inside
    the span of the layer whose output it forces."""

    def __init__(self, tracer: Tracer, spans: bool):
        self.tracer, self.spans = tracer, spans
        self.write_s = 0.0
        self.writes = 0
        self.bytes_written = 0
        self.files_written = 0

    @contextlib.contextmanager
    def installed(self, table_store_cls):
        with patched(table_store_cls, "write", self._wrap(table_store_cls.write, "write")), patched(
            table_store_cls, "append_batch", self._wrap(table_store_cls.append_batch, "append_batch")
        ):
            yield self

    def _wrap(self, fn, name):
        counter = self

        def wrapped(store, df, table, *args, **kwargs):
            ctx = counter.tracer.span("sinks", f"sinks.{name}") if counter.spans else contextlib.nullcontext()
            t = time.monotonic()
            with ctx:
                path = fn(store, df, table, *args, **kwargs)
            counter.write_s += time.monotonic() - t
            counter.writes += 1
            if name == "append_batch":
                batch_id = args[0] if args else kwargs["batch_id"]
                path = os.path.join(path, f"_batch_id={int(batch_id)}")
            b, n = dir_bytes_files(path)
            counter.bytes_written += b
            counter.files_written += n
            return store.path(table)

        return wrapped
