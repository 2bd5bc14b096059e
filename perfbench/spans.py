"""Outside-in instruments for the traced run.

- :class:`Tracer` keeps spans (name, layer, start, end, parent span,
  iteration) in memory; ``--trace 0`` runs get a disabled tracer whose
  spans cost one attribute test.
- :class:`Py4jCounter` wraps ``send_command`` on the gateway client class,
  so every driver→JVM round trip made on the main thread is counted, and
  each span records the calls made while it was open.
- :class:`PlanListener` is a ``QueryExecutionListener`` implemented over
  the py4j callback server: Spark hands it the ``QueryExecution`` that
  actually ran (for writes and ``count()`` that is not the frame's own),
  and it reads the analysis/optimization/planning phase times from its
  ``QueryPlanningTracker``.
- :class:`StatusReader` reads executor-side figures for the stages, jobs
  and SQL executions that ran, from Spark's own status stores,
  serialized to JSON in one py4j call each.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time

_PHASES = ("analysis", "optimization", "planning")


class Span:
    __slots__ = ("id", "name", "layer", "parent", "iteration", "start",
                 "end", "py4j", "plan_ms")

    def __init__(self, sid, name, layer, parent, iteration, start):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.iteration, self.start = parent, iteration, start
        self.end = start
        self.py4j = 0
        self.plan_ms = {p: 0.0 for p in _PHASES}


class Tracer:
    def __init__(self, enabled: bool, counter: "Py4jCounter | None" = None):
        self.enabled = enabled
        self.counter = counter
        self.spans: list[Span] = []
        self.iteration = -1          # -1 = set-up
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, parent, self.iteration,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        calls0 = self.counter.calls if self.counter else 0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j = (self.counter.calls if self.counter else 0) - calls0
            self._stack.pop()

    # -- reporting -------------------------------------------------------

    def self_times(self, iteration: int) -> dict:
        """Per layer of one iteration: (self ms, self py4j calls) — each
        span's duration and calls minus what its direct children cover."""
        spans = [s for s in self.spans if s.iteration == iteration]
        child_ms: dict[int, float] = {}
        child_calls: dict[int, int] = {}
        for s in spans:
            if s.parent is not None:
                child_ms[s.parent] = (child_ms.get(s.parent, 0.0)
                                      + (s.end - s.start) * 1e3)
                child_calls[s.parent] = (child_calls.get(s.parent, 0)
                                         + s.py4j)
        out: dict[str, list] = {}
        for s in spans:
            ms = (s.end - s.start) * 1e3 - child_ms.get(s.id, 0.0)
            calls = s.py4j - child_calls.get(s.id, 0)
            # an action span's own time splits into Catalyst planning
            # (from the tracker of the execution that ran) and the rest
            plan = s.plan_ms["optimization"] + s.plan_ms["planning"]
            if s.layer in ("exec", "sink") and plan:
                plan = min(plan, ms)
                acc = out.setdefault("plan", [0.0, 0])
                acc[0] += plan
                ms -= plan
            acc = out.setdefault(s.layer, [0.0, 0])
            acc[0] += ms
            acc[1] += calls
        return out

    def dump(self, path: str, extra: dict):
        rows = [{"id": s.id, "name": s.name, "layer": s.layer,
                 "parent": s.parent, "iteration": s.iteration,
                 "start_ms": round(s.start * 1e3, 3),
                 "end_ms": round(s.end * 1e3, 3),
                 "py4j_calls": s.py4j,
                 "plan_ms": s.plan_ms} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


class Py4jCounter:
    """Counts ``send_command`` round trips on the thread that installed
    it (callback-server threads and Spark's own threads are excluded, so
    a count repeats exactly for the same driver-side work)."""

    def __init__(self, gateway_client):
        self.calls = 0
        self._cls = type(gateway_client)
        self._orig = self._cls.send_command
        self._tid = threading.get_ident()
        counter = self

        def send_command(client, *args, **kwargs):
            if threading.get_ident() == counter._tid:
                counter.calls += 1
            return counter._orig(client, *args, **kwargs)

        self._cls.send_command = send_command

    def uninstall(self):
        self._cls.send_command = self._orig


class PlanListener:
    """``org.apache.spark.sql.util.QueryExecutionListener`` over py4j.

    Callbacks arrive on Spark's listener thread; :meth:`drain` waits for
    the listener bus to empty and returns what arrived since the last
    drain.  While ``active`` is false a callback returns at once."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._lock = threading.Lock()
        self._pending: list[tuple[str, dict]] = []
        self.active = False
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        if not self.active:
            return
        phases = qe.tracker().phases()
        ms = {}
        for p in _PHASES:
            o = phases.get(p)
            ms[p] = float(o.get().durationMs()) if o.isDefined() else 0.0
        with self._lock:
            self._pending.append((func_name, ms))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass  # a failed action already fails its iteration

    def drain(self) -> list[tuple[str, dict]]:
        self._spark._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            out, self._pending = self._pending, []
        return out

    def close(self):
        self._spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# -- Spark status stores ------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40}
_DUR = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse one SQL metric as the status store renders it: a plain sum
    (``1,234``), a size (``1.2 MiB``) or a duration (``12 ms``), alone or
    as the total line of a ``total (min, med, max ...)`` summary."""
    line = text.split("\n")[-1].strip()
    m = _NUM.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _DUR:
        return v * _DUR[unit]
    return v


class StatusReader:
    """Figures for the stages, jobs and SQL executions that ran since the
    previous :meth:`take`."""

    PYTHON_METRICS = {
        "time to start Python workers": "python.boot_ms",
        "time to initialize Python workers": "python.init_ms",
        "time to run Python workers": "python.total_ms",
        "data sent to Python workers": "python.data_sent_bytes",
        "data returned from Python workers": "python.data_received_bytes",
    }

    def __init__(self, spark):
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._store = spark._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = getattr(self._store, "stageList$default$4")()
        self._last_stage = self._last_job = self._last_exec = -1
        self.take()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def cache_bytes(self) -> float:
        return float(sum(r["memoryUsed"] + r["diskUsed"]
                         for r in self._json(self._store.rddList(True))))

    def take(self) -> dict:
        stages = [s for s in self._json(self._store.stageList(
                      None, False, False, self._quantiles, None))
                  if s["stageId"] > self._last_stage]
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j["jobId"] > self._last_job]
        execs = [e for e in self._json(self._sql.executionsList())
                 if e["executionId"] > self._last_exec]
        self._last_stage = max([s["stageId"] for s in stages],
                               default=self._last_stage)
        self._last_job = max([j["jobId"] for j in jobs],
                             default=self._last_job)
        self._last_exec = max([e["executionId"] for e in execs],
                              default=self._last_exec)
        ran = [s for s in stages if s["status"] == "COMPLETE"]
        m = {
            "exec.jobs": float(len(jobs)),
            "exec.stages": float(len(ran)),
            "exec.tasks": float(sum(s["numCompleteTasks"] for s in ran)),
            "exec.run_ms": float(sum(s["executorRunTime"] for s in ran)),
            "exec.cpu_ms": sum(s["executorCpuTime"] for s in ran) / 1e6,
            "exec.gc_ms": float(sum(s["jvmGcTime"] for s in ran)),
            "exec.scan_bytes": float(sum(s["inputBytes"] for s in ran)),
            "exec.shuffle_write_bytes": float(
                sum(s["shuffleWriteBytes"] for s in ran)),
            "exec.shuffle_fetch_wait_ms": float(
                sum(s["shuffleFetchWaitTime"] for s in ran)),
            "sink.bytes_written": float(sum(s["outputBytes"] for s in ran)),
            "sink.files_written": 0.0,
            "exec.prefilter_rows_in": 0.0,
            "exec.prefilter_rows_out": 0.0,
        }
        for name in self.PYTHON_METRICS.values():
            m[name] = 0.0
        for e in execs:
            values = e.get("metricValues") or {}
            for pm in e["metrics"]:
                text = values.get(str(pm["accumulatorId"]))
                if text is None:
                    continue
                key = self.PYTHON_METRICS.get(pm["name"])
                if pm["name"] == "number of written files":
                    key = "sink.files_written"
                if key:
                    m[key] += metric_value(text)
            rows_in, rows_out = self._prefilter(e["executionId"], values)
            m["exec.prefilter_rows_in"] += rows_in
            m["exec.prefilter_rows_out"] += rows_out
        return m

    def _prefilter(self, execution_id: int, values: dict):
        """Rows into and out of the validation prefilter: the Filter
        directly over a file or cache scan that carries the most predicate
        text
        (``violation_prefilter`` ORs every check; the heavy-column scan's
        pushed filter is a lone IsNull)."""
        graph = self._sql.planGraph(execution_id)
        nodes = {n["id"]: n for n in self._json(graph.allNodes())}
        child_of = {}
        for e in self._json(graph.edges()):
            child_of.setdefault(e["toId"], []).append(e["fromId"])

        def rows(node):
            for pm in node["metrics"]:
                if pm["name"] == "number of output rows":
                    return metric_value(
                        values.get(str(pm["accumulatorId"]), "0"))
            return 0.0

        def scan_below(nid):
            seen = 0
            while seen < 8:
                kids = child_of.get(nid, [])
                if len(kids) != 1:
                    return None
                nid = kids[0]
                if nodes[nid]["name"].startswith(("Scan ",
                                                  "InMemoryTableScan")):
                    return nodes[nid]
                seen += 1
            return None

        best = None
        for n in nodes.values():
            if n["name"] != "Filter":
                continue
            scan = scan_below(n["id"])
            if scan is not None and (best is None
                                     or len(n["desc"]) > len(best[0]["desc"])):
                best = (n, scan)
        if best is None:
            return 0.0, 0.0
        return rows(best[1]), rows(best[0])
