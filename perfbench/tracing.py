"""Tracing for the benchmark's per-layer run.

Everything here observes the engine from outside: spans are taken
around calls into h3ron_spark's public functions, counts come from
Spark's own status stores, listener bus and metric registries, and
py4j round trips are counted by wrapping the gateway client.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import sys
import time

import numpy as np

# (module, function, span name): public functions whose time inside the
# call the trace reports, wherever the query registry calls them from.
LAYER_FUNCTIONS = (
    ("h3ron_spark.operators.compact", "compact_dataframe", "operators.compact_dataframe"),
    ("h3ron_spark.operators.spatial", "cells_in_rect", "operators.cells_in_rect"),
    ("h3ron_spark.graph.pagerank", "pagerank", "graph.pagerank"),
    ("h3ron_spark.raster", "raster_to_cells", "raster.raster_to_cells"),
)

# Node metrics that only Python-evaluation plan nodes carry.
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
BROADCAST_COLLECT = "time to collect"

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as the status store formats it: a bare
    count (``100,000``), a size (``1.2 KiB``) in bytes, or a duration
    (``4.7 s``) in seconds. Aggregated metrics put the total on the line
    after the ``total (min, med, max ...)`` header."""
    line = text.rsplit("\n", 1)[-1]
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_S:
        return value * _TIME_S[unit]
    return value


class Tracer:
    """In-memory spans: name, start, end (epoch seconds) and parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install_layer_wrappers(tracer: Tracer) -> None:
    """Replace each LAYER_FUNCTIONS entry, in its defining module and in
    every loaded h3ron_spark module that re-exports it, with a wrapper
    that opens a span while the tracer is active."""
    for mod_name, attr, span_name in LAYER_FUNCTIONS:
        orig = getattr(importlib.import_module(mod_name), attr)
        traced = tracer.wrap(orig, span_name)
        for name, mod in list(sys.modules.items()):
            if not name.startswith("h3ron_spark") or mod is None:
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)


class Py4jCounter:
    """Counts gateway round trips by wrapping the client's send_command;
    only calls made while ``active`` is set are counted."""

    def __init__(self, spark) -> None:
        self.count = 0
        self.active = False
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.count += 1
            return send(*args, **kwargs)

        client.send_command = send_command


class StreamProgress:
    """Micro-batch progress from every session the registry creates.

    The streaming queries run on sessions cloned with newSession(), each
    with its own StreamingQueryManager, so the listener is added to every
    new session as it is made."""

    def __init__(self) -> None:
        from pyspark.sql import SparkSession
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        progress = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.batches.append(
                    {"time": time.time(), "batch": p.batchId, "duration_ms": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Listener()
        orig = SparkSession.newSession

        @functools.wraps(orig)
        def new_session(session):
            clone = orig(session)
            clone.streams.addListener(listener)
            return clone

        SparkSession.newSession = new_session


class JvmStatus:
    """Job, stage and SQL-execution records from the driver's status
    stores, fetched as JSON in one gateway call each."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def to_json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._bus.waitUntilEmpty(30_000)

    def codegen_compiles(self) -> int:
        return int(self._codegen.getCount())

    def sql_count(self) -> int:
        return int(self._sql.executionsCount())

    def jobs(self) -> list[dict]:
        return self.to_json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        return self.to_json(self._store.stageList(None, False, False, self._no_quantiles, None))

    def sql_node_metrics(self, first: int, count: int) -> list[dict]:
        """Per-execution node metric totals for executions [first, first+count)."""
        out = []
        for ex in self.to_json(self._sql.executionsList(first, count)):
            eid = ex["executionId"]
            values = self.to_json(self._sql.executionMetrics(eid))
            nodes = []
            for node in self.to_json(self._sql.planGraph(eid).allNodes()):
                metrics = {
                    m["name"]: parse_sql_metric(values[str(m["accumulatorId"])])
                    for m in node.get("metrics", [])
                    if str(m["accumulatorId"]) in values
                }
                nodes.append({"name": node.get("name"), "metrics": metrics})
            out.append({"id": eid, "submitted": ex.get("submissionTime"), "nodes": nodes})
        return out


def summarize_sql(executions: list[dict]) -> dict[str, float]:
    rows = sent = returned = collect = 0.0
    for ex in executions:
        for node in ex["nodes"]:
            m = node["metrics"]
            if PYTHON_SENT in m:
                sent += m[PYTHON_SENT]
                returned += m.get(PYTHON_RETURNED, 0.0)
                rows += m.get("number of output rows", 0.0)
            if BROADCAST_COLLECT in m:
                collect += m[BROADCAST_COLLECT]
    return {
        "functions.arrow_rows": rows,
        "functions.arrow_bytes_sent": sent,
        "functions.arrow_bytes_returned": returned,
        "broadcast.collect_s": collect,
    }


def summarize_stages(stages: list[dict]) -> dict[str, float]:
    ran = [s for s in stages if s.get("status") in ("COMPLETE", "FAILED")]
    return {
        "scheduler.stages": float(len(ran)),
        "scheduler.tasks": float(sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran)),
        "executor.run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
        "executor.cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "executor.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "shuffle.read_bytes": float(sum(s["shuffleReadBytes"] for s in ran)),
        "shuffle.write_bytes": float(sum(s["shuffleWriteBytes"] for s in ran)),
        "spill.bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran)),
        "output.bytes": float(sum(s["outputBytes"] for s in ran)),
    }


def in_window(t_ms, start: float, end: float) -> bool:
    return t_ms is not None and start * 1e3 <= t_ms <= end * 1e3


def kernel_ns_per_cell(events_path: str, seed: int, n: int = 20_000) -> dict[str, float]:
    """ns per input cell of the h3core batch kernels, called in the
    driver on cells derived from the generated events (median of 5)."""
    import pyarrow.parquet as pq

    from h3ron_spark.h3core import vectorized as V

    ev = pq.read_table(events_path, columns=["event_id", "user_id"])
    rng = np.random.default_rng(seed)
    pick = rng.choice(ev.num_rows, size=min(n, ev.num_rows), replace=False)
    eid = ev.column("event_id").to_numpy()[pick]
    uid = ev.column("user_id").to_numpy()[pick]
    # the registry's derived coordinates (testdata.derived_lat/lng)
    lng = (eid % 36000) / 100.0 - 180.0
    lat = ((uid * 7 + eid) % 16000) / 100.0 - 80.0
    cells9 = V.latlng_to_cell_batch(lat, lng, 9)
    cells5 = V.latlng_to_cell_batch(lat, lng, 5)
    small = cells5[: max(1, len(cells5) // 20)]
    children = V.cell_to_children_batch(small, 7)[0]
    probes = {
        "h3core.latlng_to_cell_ns": (lambda: V.latlng_to_cell_batch(lat, lng, 9), len(lat)),
        "h3core.cell_to_parent_ns": (
            lambda: V.cell_to_parent_np(cells9, np.full(len(cells9), 5, dtype=np.int64)),
            len(cells9),
        ),
        "h3core.grid_disk_k3_ns": (lambda: V.grid_disk_distances_batch(small, 3), len(small)),
        "h3core.cell_to_children_ns": (lambda: V.cell_to_children_batch(small, 7), len(small)),
        "h3core.compact_ns": (lambda: V.compact_cells_np(children), len(children)),
    }
    out = {}
    for name, (fn, count) in probes.items():
        fn()
        times = []
        for _ in range(5):
            t0 = time.perf_counter_ns()
            fn()
            times.append((time.perf_counter_ns() - t0) / count)
        out[name] = float(np.median(times))
    return out
