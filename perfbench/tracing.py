"""Tracing for the benchmark's traced run, applied from outside the program.

``Tracer.install`` replaces public functions of the program's modules with
wrappers that record a span (name, start, end, parent span, operation) per
call; every module of the package that imported the function by name gets
the wrapper too. Spans stay in memory until ``write``. Spark-side numbers
come from the event log, which ``parse_event_log`` folds into per-operation
job, stage and task counts and task metrics. Nothing here is imported by an
untraced run.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "etl_ender_turing_spark"

# (module, function, span name): the public entry points the workloads reach
TRACED = (
    ("etl_ender_turing_spark.operators.upsert", "upsert_parquet", "operators.upsert"),
    ("etl_ender_turing_spark.operators.upsert", "upsert_parquet_partitioned",
     "operators.upsert_partitioned"),
    ("etl_ender_turing_spark.pipeline.sync", "sync_period", "pipeline.sync_period"),
    ("etl_ender_turing_spark.pipeline.sync", "load_tables", "pipeline.load_tables"),
    ("etl_ender_turing_spark.pipeline.transform", "transform_all",
     "pipeline.transform_all"),
    ("etl_ender_turing_spark.sources.readers", "read_table", "sources.read_table"),
    ("etl_ender_turing_spark.operators.curation", "prepare_training_set",
     "operators.prepare_training_set"),
    ("etl_ender_turing_spark.operators.curation", "write_training_shards",
     "operators.write_training_shards"),
    ("etl_ender_turing_spark.streaming.stream", "run_api_stream_sync",
     "streaming.run_api_stream_sync"),
    # a catalog query's plan build and its execution, as the analytics
    # workload calls them
    ("workloads", "build_query", "plans.build"),
    ("workloads", "collect_query", "plans.execute"),
)

GROUP_PREFIX = "perfbench-op-"


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[tuple[int, int | None, int | None, str, float, float]] = []
        self.op: int | None = None
        # op id -> (start, end) in epoch seconds, for event-log attribution
        self.windows: dict[int, tuple[float, float]] = {}

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else None
            sid = next(self._ids)
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                self.spans.append((sid, parent, self.op, name, t0,
                                   time.perf_counter()))
        return traced

    def install(self) -> None:
        for modname, attr, name in TRACED:
            orig = getattr(importlib.import_module(modname), attr)
            wrapped = self._wrap(orig, name)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "")
                if not (mname.startswith(PACKAGE) or mname == modname):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        self._patched.append((mod, key, orig))
                        setattr(mod, key, wrapped)

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    # -- operations ---------------------------------------------------------
    def begin_op(self, op: int, kind: str) -> None:
        self.op = op
        self._sc.setJobGroup(f"{GROUP_PREFIX}{op}", kind)
        self._t0 = time.time()

    def end_op(self) -> None:
        self.windows[self.op] = (self._t0, time.time())
        self.op = None
        self._sc.setJobGroup("perfbench-other", "outside timed operations")

    def span_seconds(self, ops: set[int]) -> dict[str, float]:
        """Inclusive seconds per span name over the given operations."""
        out: dict[str, float] = defaultdict(float)
        for _, _, op, name, t0, t1 in self.spans:
            if op in ops:
                out[name] += t1 - t0
        return out

    def span_calls(self, ops: set[int]) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for _, _, op, name, _, _ in self.spans:
            if op in ops:
                out[name] += 1
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, parent, op, name, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "op": op,
                                    "name": name, "start": t0, "end": t1}) + "\n")


def parse_event_log(log_dir: str, windows: dict[int, tuple[float, float]]) -> dict:
    """Fold the Spark event log into per-operation totals.

    A job belongs to the operation whose job group it carries; jobs under a
    group Spark set itself (streaming queries set their run id) belong to
    the operation whose time window holds their submission time. Stages and
    tasks follow their job."""
    def op_of(props: dict, t_ms: float | None) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            return int(group[len(GROUP_PREFIX):])
        if group == "perfbench-other" or t_ms is None:
            return None
        t = t_ms / 1000.0
        for op, (a, b) in windows.items():
            if a <= t <= b:
                return op
        return None

    totals: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_op: dict[int, int | None] = {}
    paths = sorted(os.path.join(root, f) for root, _, files in os.walk(log_dir)
                   for f in files if not f.startswith("appstatus"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = op_of(ev.get("Properties"), ev.get("Submission Time"))
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                    if op is not None:
                        totals[op]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    op = stage_op.get(info["Stage ID"])
                    if op is None:
                        op = op_of(ev.get("Properties"), info.get("Submission Time"))
                        stage_op[info["Stage ID"]] = op
                    if op is not None:
                        totals[op]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    if op is None:
                        continue
                    t = totals[op]
                    t["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        t["task_failures"] += 1
                    m = ev.get("Task Metrics") or {}
                    t["executor_run_ms"] += m.get("Executor Run Time", 0)
                    t["memory_spill_bytes"] += m.get("Memory Bytes Spilled", 0)
                    t["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    t["output_bytes"] += (m.get("Output Metrics") or {}) \
                        .get("Bytes Written", 0)
    return totals
