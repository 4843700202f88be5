"""Per-layer tracing for the perfbench harness.

The layers are the ``meza_spark`` modules. Tracing wraps each module's
public functions from the outside (nothing under ``meza_spark/`` is
edited) and records one span per call: layer, start, end and parent.
A layer's self time is its spans' durations minus the time their child
spans cover. Counters ride on the same spans:

- py4j round-trips are charged to the innermost open span's layer;
- Spark jobs are charged to the innermost span open when the job was
  submitted (read afterwards from Spark's own status store);
- Python-worker time comes from the ``perf`` UDF profiler and is mapped
  to the module that defines each UDF;
- Catalyst phase times come from a ``QueryExecutionListener``, which
  sees every query execution that runs (the same plan that executes,
  eager jobs inside layer calls included); the analysis done while
  frames are built happens on query executions that never run, so it is
  counted only in the rule time of Spark's process-wide rule metering.

Spans live in memory; the harness turns them into metrics after each
traced pass.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
import urllib.request
from collections import defaultdict

# Each layer is the module ``meza_spark.<layer>``. "registry" is the
# harness span around a __spark_entry__ query's construction and
# "spark.exec" the span around the harness's own actions (sinks,
# collects).
LAYERS = ["session", "io.readers", "io.writers", "io.warc", "io.webdataset",
          "typetools", "convert", "functions", "process", "analytics",
          "profile", "quality", "graph", "spatial", "llm.text", "llm.dedup",
          "llm.cluster", "llm.decontam", "llm.sampling", "llm.doctext",
          "llm.htmltext", "llm.multimodal"]
ALL_LAYERS = LAYERS + ["registry"]
EXEC = "spark.exec"
UDF_LAYERS = ["io.readers", "io.webdataset", "convert", "analytics",
              "llm.text", "llm.dedup", "llm.cluster", "llm.doctext",
              "llm.htmltext", "llm.multimodal"]


def layer_self_times(spans) -> dict[str, float]:
    """Self time per layer from closed spans ``(layer, start, end,
    parent)``, where ``parent`` indexes into ``spans`` (or is None).
    Spans of one thread nest, so a parent's covered time is the sum of
    its children's durations."""
    child = [0.0] * len(spans)
    for layer, start, end, parent in spans:
        if parent is not None:
            child[parent] += end - start
    out: dict[str, float] = defaultdict(float)
    for (layer, start, end, _), c in zip(spans, child):
        out[layer] += (end - start) - c
    return dict(out)


def innermost_layer(spans, t: float) -> str | None:
    """Layer of the innermost span open at time ``t`` (latest start
    among the spans containing it)."""
    best = None
    for layer, start, end, _ in spans:
        if start <= t <= end and (best is None or start >= best[0]):
            best = (start, layer)
    return best[1] if best else None


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[list] = []    # [layer, start, end, parent index]
        self._stack: list[int] = []    # indexes of open spans
        self.calls: dict[str, int] = defaultdict(int)
        self.py4j: dict[str, int] = defaultdict(int)
        self.phases: dict[str, float] = defaultdict(float)

    def reset(self):
        self.spans, self._stack = [], []
        self.calls = defaultdict(int)
        self.py4j = defaultdict(int)
        self.phases = defaultdict(float)

    # ------------------------------------------------------------ spans
    def _open(self, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([layer, time.time(), None, parent])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.calls[layer] += 1
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        idx = self._open(layer)
        try:
            yield
        finally:
            self._close(idx)

    def closed_spans(self) -> list[tuple]:
        return [tuple(s) for s in self.spans if s[2] is not None]

    def innermost(self) -> str:
        return self.spans[self._stack[-1]][0] if self._stack else "harness"

    # ---------------------------------------------------- installation
    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer._open(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)

        return wrapper

    def install(self) -> None:
        """Wrap every public function of each layer module and rebind
        each name that refers to one of them in any loaded
        ``meza_spark``/registry module (``from x import f`` copies)."""
        wrappers: dict[int, object] = {}
        for layer in LAYERS:
            modname = f"meza_spark.{layer}"
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != modname):
                    continue
                wrappers[id(obj)] = self._wrap(obj, layer)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith("meza_spark")
                                   or modname == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command
        tracer = self

        main = threading.get_ident()

        def counted(client, *args, **kwargs):
            # the Catalyst listener's calls run on py4j's callback thread
            if tracer.enabled and threading.get_ident() == main:
                tracer.py4j[tracer.innermost()] += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counted
        self.code_index = code_index()

    # ------------------------------------------------ engine counters
    def watch_catalyst(self, spark) -> None:
        """Add the tracked Catalyst phase times of every query execution
        that runs from now on (actions, writes and the eager jobs inside
        layer calls), until ``unwatch_catalyst``."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _PhaseListener(self.phases)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._rules_ns = _rule_time_ns(spark)

    def unwatch_catalyst(self, spark) -> None:
        """Wait until Spark's listener bus has delivered every event so
        far (phases and the status store are complete), then stop
        watching. ``rules_ms`` is the Catalyst rule time meanwhile."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark._jsparkSession.listenerManager().unregister(self._listener)
        self.rules_ms = (_rule_time_ns(spark) - self._rules_ns) / 1e6


def _rule_time_ns(spark) -> int:
    """Time of every analyzer and optimizer rule run in this JVM so far
    (Spark's process-wide rule metering). Unlike the phases of the query
    executions that run, it includes the analysis done while frames are
    built, which happens on query executions that never run."""
    rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    return rules.getCurrentMetrics().time()


class _PhaseListener:
    """A ``QueryExecutionListener`` served by py4j's callback server; Spark
    calls it on its listener-bus thread once each query execution ends."""

    def __init__(self, phases: dict[str, float]):
        self.phases = phases

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        self._add(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        self._add(qe)

    def _add(self, qe) -> None:
        phases = qe.tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                self.phases[ph] += opt.get().durationMs()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _rest(spark, what: str):
    """GET one Spark status-store listing over the local UI port."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = (f"http://127.0.0.1:{port}/api/v1/applications/"
           f"{sc.applicationId}/{what}")
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc).timestamp()


def spark_counters(spark, t0: float, t1: float, spans) -> tuple[dict, dict]:
    """Jobs submitted in ``[t0, t1]`` and their stages: engine totals and
    the per-layer job counts (by the innermost span at submission)."""
    jobs = [j for j in _rest(spark, "jobs")
            if "submissionTime" in j
            and t0 - 0.001 <= _epoch(j["submissionTime"]) <= t1 + 0.001]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in _rest(spark, "stages?details=false")
              if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    per_layer: dict[str, int] = defaultdict(int)
    intervals = []
    for j in jobs:
        t = _epoch(j["submissionTime"])
        per_layer[innermost_layer(spans, t) or "harness"] += 1
        if "completionTime" in j:
            intervals.append((t, _epoch(j["completionTime"])))
    busy, end = 0.0, float("-inf")  # length of the union of intervals
    for a, b in sorted(intervals):
        busy += max(0.0, b - max(a, end))
        end = max(end, b)
    mb = 1 / (1 << 20)
    totals = {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"]
                                      for s in stages) * mb,
        "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                              for s in stages) * mb,
        "spark.output_mb": sum(s["outputBytes"] for s in stages) * mb,
        "spark.job_busy_s": busy,
    }
    return totals, dict(per_layer)


def code_index() -> dict[tuple[str, int, str], str]:
    """(file basename, first line, function name) of every function in
    the layer modules, nested ones included -> layer. The perf profiler
    records file basenames only, so this is how a UDF frame is matched
    to the module that defines it."""
    index = {}
    for layer in LAYERS:
        mod = importlib.import_module(f"meza_spark.{layer}")
        todo = [mod.__loader__.get_code(mod.__name__)]
        base = os.path.basename(mod.__file__)
        while todo:
            code = todo.pop()
            index[(base, code.co_firstlineno, code.co_name)] = layer
            todo.extend(c for c in code.co_consts if inspect.iscode(c))
    return index


def udf_seconds(spark, index) -> dict[str, float]:
    """Python-worker seconds per defining layer from the ``perf`` UDF
    profiler, then clear it. A UDF belongs to the layer of its outermost
    layer-module frame (largest cumulative time)."""
    results = spark._profiler_collector._perf_profile_results
    out: dict[str, float] = defaultdict(float)
    for stats in results.values():
        best = None
        for key, (_, _, _, ct, _) in stats.stats.items():
            layer = index.get((os.path.basename(key[0]), key[1], key[2]))
            if layer and (best is None or ct > best[0]):
                best = (ct, layer)
        out[best[1] if best else "other"] += stats.total_tt
    spark.profile.clear(type="perf")
    return dict(out)
