"""Spans around the program's public calls, and Spark event-log metrics.

A span records name, start, end and parent; spans are kept in memory and
written out when the run ends. Each name is wrapped at the module that
calls it: ``pipelines.economics`` imports ``read_csv``,
``read_excel_sheet`` and ``check_primary_key`` by name, and the plans
modules import ``read_parquet_table`` (as ``t``) and
``stage_loop_edges`` by name, so those are wrapped in the importing
modules; ``publish`` imports ``write_parquet`` at call time, so that is
wrapped in ``io.writers``.

While a span is open its id is the calling thread's Spark job group, so
the event log attributes every job to the innermost span that submitted
it. Jobs whose group is not a span's are attributed by time window and
counted apart: a streaming query runs its micro-batches on its own
thread under its own run id as group.
"""

from __future__ import annotations

import contextlib
import inspect
import itertools
import json
import threading
import time
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"
# SQL metrics of the Python/Arrow operators, summed over tasks; the
# timing ones are in ms
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "data returned from Python workers": "python_bytes_received",
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, once the session exists
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_KEY, None if span_id is None else f"span-{span_id}")

    @contextlib.contextmanager
    def span(self, name: str, attrs: dict | None = None):
        stack = self._stack()
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        self._set_group(span_id)
        start = time.time()
        try:
            yield span_id
        finally:
            end = time.time()
            stack.pop()
            self._set_group(parent)
            self.spans.append(
                {"id": span_id, "name": name, "start": start, "end": end, "parent": parent,
                 **(attrs or {})}
            )

    def wrap(self, owner, attr: str, name: str, describe=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``;
        ``describe(*args, **kwargs)`` may add attributes to the span."""
        static = inspect.getattr_static(owner, attr)
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name, describe(*args, **kwargs) if describe else None):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(owner, attr, staticmethod(traced) if isinstance(static, staticmethod) else traced)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def wrap_program(tracer: Tracer) -> None:
    """Wrap every layer boundary the workloads cross."""
    from state_economics_end_to_end_data_pipeline_spark.io import writers
    from state_economics_end_to_end_data_pipeline_spark.pipelines import economics
    from state_economics_end_to_end_data_pipeline_spark.plans import (
        catalog,
        extensions,
        graph_analytics,
        tpch_workloads,
    )
    from state_economics_end_to_end_data_pipeline_spark.serving import service

    tracer.wrap(economics, "read_csv", "io.readers.read_csv")
    tracer.wrap(economics, "read_excel_sheet", "io.readers.read_excel_sheet")
    tracer.wrap(economics, "check_primary_key", "operators.quality.check_primary_key")
    tracer.wrap(writers, "write_parquet", "io.writers.write_parquet")
    etl = economics.EconomicsETL
    tracer.wrap(etl, "run", "pipelines.economics.run")
    tracer.wrap(etl, "validate_outputs", "pipelines.economics.validate_outputs")
    tracer.wrap(etl, "publish", "pipelines.economics.publish")
    tracer.wrap(service.DataService, "register_parquet", "serving.service.register_parquet")
    tracer.wrap(
        service.DataService, "get_data", "serving.service.get_data",
        describe=lambda _self, table, limit=10: {"limit": limit},
    )
    # the plans modules of the catalog mix
    for module in (catalog, extensions, graph_analytics, tpch_workloads):
        tracer.wrap(module, "t", "io.readers.read_parquet_table")
    tracer.wrap(graph_analytics, "stage_loop_edges", "operators.partitioning.stage_loop_edges")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.extend(by_parent.get(sid, []))
        todo.extend(c["id"] for c in by_parent.get(sid, []))
    return out


def read_event_log(log_dir: Path) -> list[dict]:
    """One record per finished job: group, submit/end (epoch s), stage
    count, task count and summed task metrics."""
    logs = [p for p in Path(log_dir).iterdir() if not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: dict[int, dict] = {}
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages_done.setdefault(info["Stage ID"], _zero_metrics())["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = stages_done.setdefault(ev["Stage ID"], _zero_metrics())
                acc["tasks"] += 1
                acc["executor_run_ms"] += m.get("Executor Run Time", 0)
                acc["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = PYTHON_METRICS.get(a.get("Name"))
                    if key is not None:
                        acc[key] += int(a.get("Update") or 0)
    for jid, job in jobs.items():
        job.update(_zero_metrics())
    for sid, acc in stages_done.items():
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            for k, v in acc.items():
                job[k] += v
    return [j for j in jobs.values() if j["end"] is not None]


def _zero_metrics() -> dict:
    return dict(stages=0, tasks=0, executor_run_ms=0, executor_cpu_ns=0,
                shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                **dict.fromkeys(PYTHON_METRICS.values(), 0))
