"""Span tracing of the program's layers, from outside the program.

:func:`install` replaces the public functions of each layer with timing
wrappers: every module attribute under ``easy_alterator_spark`` that
holds one of those functions is rebound, so names imported with
``from x import f`` are covered too. Nothing in the package changes on
disk.

Each span records name, start, end, parent and operation id, and the
work done inside it but outside its child spans:

- ``py4j``: py4j commands sent by the Python driver (garbage-collection
  ``m`` commands excluded, they follow the Python GC, not the work);
- Spark jobs, tasks and task metrics, attributed exactly through a
  local property (``alterbench.span``) that every job and stage carries
  into the event log, read when the session stops.

Spans stay in memory; :meth:`Tracer.dump` writes them out at the end of
the run, and ``run.layer_metrics`` reduces them to per-layer numbers.
"""

from __future__ import annotations

import contextlib
import fileinput
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

SPAN_PROPERTY = "alterbench.span"

# layer name -> (module, attribute) of each public function wrapped
LAYERS: dict[str, list[tuple[str, str]]] = {
    "session": [("easy_alterator_spark.session", "get_spark")],
    "cli": [("easy_alterator_spark.cli", "run_alterator")],
    "ddl.parser": [
        ("easy_alterator_spark.ddl.parser", "read_ddl_corpus"),
        ("easy_alterator_spark.ddl.parser", "parse_ddl_corpus"),
    ],
    "diff.catalog.snapshot": [("easy_alterator_spark.diff.catalog", "snapshot_catalog")],
    "diff.hive": [("easy_alterator_spark.diff.hive", "hive_diff")],
    "diff.report": [("easy_alterator_spark.diff.report", "build_report")],
    "diff.catalog.version": [("easy_alterator_spark.diff.catalog", "table_version")],
    "ddl.render": [
        ("easy_alterator_spark.ddl.render", "hive_alter_statements"),
        ("easy_alterator_spark.ddl.render", "iceberg_alter_statements"),
    ],
    "diff.catalog.apply": [("easy_alterator_spark.diff.catalog", "apply_statements")],
    "sources": [("easy_alterator_spark.sources.tables", "load_table")],
}


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "py4j", "children_s", "extra")

    def __init__(self, sid: int, name: str, parent: int | None, op: int | None):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start = self.end = 0.0
        self.py4j = 0
        self.children_s = 0.0
        self.extra: dict[str, float] = {}

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "op": self.op,
            "start": self.start,
            "end": self.end,
            "self_s": (self.end - self.start) - self.children_s,
            "py4j_calls": self.py4j,
            **self.extra,
        }


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.spark = None
        self._quiet = 0  # >0 while the tracer itself talks to the JVM
        self._counted_client = None

    # -- py4j accounting -------------------------------------------------
    def attach(self, spark) -> None:
        """Count py4j commands of ``spark``'s gateway client."""
        self.spark = spark
        client = spark.sparkContext._gateway._gateway_client
        if client is self._counted_client:
            return
        self._counted_client = client
        send = client.send_command
        tracer = self

        @functools.wraps(send)
        def counting_send(command, *a, **k):
            if not tracer._quiet and tracer.stack and not command.startswith("m\n"):
                tracer.stack[-1].py4j += 1
            return send(command, *a, **k)

        client.send_command = counting_send

    def _set_property(self, value: str | None) -> None:
        if self.spark is None:
            return
        self._quiet += 1
        try:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)
        finally:
            self._quiet -= 1

    def persistent_rdds(self) -> int:
        self._quiet += 1
        try:
            return self.spark.sparkContext._jsc.getPersistentRDDs().size()
        finally:
            self._quiet -= 1

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        s = Span(len(self.spans), name, parent, self.op)
        self.spans.append(s)
        self.stack.append(s)
        self._set_property(str(s.id))
        s.start = time.perf_counter()
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        popped = self.stack.pop()
        assert popped is s, (popped.name, s.name)
        if self.stack:
            self.stack[-1].children_s += s.end - s.start
        self._set_property(str(self.stack[-1].id) if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            if name == "cli":
                cached = tracer.persistent_rdds()
            s = tracer.open(name)
            try:
                out = fn(*a, **k)
            finally:
                tracer.close(s)
            if name == "cli":
                s.extra["cached_added"] = tracer.persistent_rdds() - cached
            if name == "diff.catalog.apply":
                s.extra["statements"] = len(a[1])  # apply_statements(spark, statements)
            if name == "session":
                tracer.attach(out)
            return out

        return traced

    # -- output --------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def install(tracer: Tracer) -> None:
    """Rebind every module attribute that holds a wrapped layer function."""
    import importlib

    originals: dict[int, tuple[str, object]] = {}
    for layer, targets in LAYERS.items():
        for mod, attr in targets:
            fn = getattr(importlib.import_module(mod), attr)
            originals[id(fn)] = (layer, fn)
    wrapped = {i: tracer.wrap(layer, fn) for i, (layer, fn) in originals.items()}
    for name, mod in list(sys.modules.items()):
        if not name.startswith("easy_alterator_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in wrapped and originals[id(val)][1] is val:
                setattr(mod, attr, wrapped[id(val)])


_WANTED = tuple(
    f'{{"Event":"SparkListener{e}"'
    for e in ("JobStart", "StageSubmitted", "TaskEnd")
)
# confs that make the session write the event log read back here
EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "true",
}


def read_event_log(log_dir: str) -> dict[int, dict[str, float]]:
    """span id -> jobs, tasks and task metrics from Spark event logs."""
    per_span: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for app in sorted(glob.glob(f"{log_dir}/eventlog_v2_*")):
        stage_span: dict[tuple[int, int], int] = {}
        # rolled files events_<n>_<app>, read in order of n
        files = sorted(
            glob.glob(f"{app}/events_*"),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if not files:
            continue
        with fileinput.input(files) as lines:
            for line in lines:
                if line.startswith(_WANTED):
                    _add_event(json.loads(line), per_span, stage_span)
    return per_span


def _add_event(ev: dict, per_span, stage_span) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
        if sid is not None:
            per_span[int(sid)]["jobs"] += 1
    elif kind == "SparkListenerStageSubmitted":
        sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
        info = ev["Stage Info"]
        if sid is not None:
            stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = int(sid)
    else:  # SparkListenerTaskEnd
        sid = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
        if sid is None:
            return
        m = ev.get("Task Metrics") or {}
        d = per_span[sid]
        d["tasks"] += 1
        d["executor_run_ms"] += m.get("Executor Run Time", 0)
        d["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        d["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def merge_event_log(tracer: Tracer, log_dir: str) -> None:
    """Add each span's jobs, tasks and task metrics to its counters."""
    for sid, d in read_event_log(log_dir).items():
        tracer.spans[sid].extra.update(d)
