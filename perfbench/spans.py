"""Spans around layer calls, and Spark's own SQL metrics per action.

Spans are recorded from the benchmark's side of each call into a
``tzengine`` module: (name, start, end, parent, job). They live in
memory and are written out when the run ends. A span's self time is its
duration minus the part of it that its child spans cover.

SQL metrics come from a ``QueryExecutionListener`` that keeps each
finished action's ``QueryExecution``; the final physical plan is walked
through AQE into every query stage, because the top-level adaptive plan
only shows the stage after the last shuffle.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job: int | None = None

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "job": self.job,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def first(self, name: str) -> float:
        """Duration of the first span called ``name`` (0 if none)."""
        for s in self.spans:
            if s["name"] == name:
                return s["end"] - s["start"]
        return 0.0

    def descendants(self, span: dict) -> list[dict]:
        i = self.spans.index(span)
        inside = {i}
        out = []
        for j in range(i + 1, len(self.spans)):
            if self.spans[j]["parent"] in inside:
                inside.add(j)
                out.append(self.spans[j])
        return out

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name. Child spans run sequentially
        inside their parent, so their covered part is the sum of their
        durations."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of each traced layer so that every call,
    from the benchmark or from inside the program, opens a span named
    ``<module>.<function>``. The wrapped objects are looked up at call
    time by their callers, so the program's own path is unchanged."""
    import functools

    from tzengine import engine, geojson, index, tables

    def wrap(name, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return traced

    for mod, names in (
        (geojson, ("zones_from_geojsonl",)),
        (index, ("compile_index", "assemble_index")),
        (tables, ("write_resumable",)),
    ):
        short = mod.__name__.rsplit(".", 1)[-1]
        for n in names:
            setattr(mod, n, wrap(f"{short}.{n}", getattr(mod, n)))
    cls = engine.TzEngine
    for n in ("__init__", "assign_timezones", "distance_from_boundary", "knn_zones"):
        setattr(cls, n, wrap(f"engine.{n}", cls.__dict__[n]))
    for n in ("for_everywhere", "for_region"):
        setattr(cls, n, classmethod(wrap(f"engine.{n}", cls.__dict__[n].__func__)))


# ``SQLMetric`` entries of a plan node's metrics map, as Scala prints it;
# the timing metrics read here (pipelineTime, python*Time) are in ms
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")

# ArrowEvalPython / python-exec metric keys (Spark 4.1)
_PY_KEYS = (
    "pythonDataSent",
    "pythonDataReceived",
    "pythonInitTime",
    "pythonTotalTime",
)


class ActionMetrics:
    """Collects the executed plan of every successful action."""

    def __init__(self, spark):
        from pyspark import SparkContext
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(SparkContext._gateway)
        self._cc = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._cv = threading.Condition()
        self._events: list = []
        self._listeners = spark._jsparkSession.listenerManager()
        self._listeners.register(self)

    # -- py4j QueryExecutionListener --------------------------------------
    def onSuccess(self, func_name, qe, duration_ns):
        with self._cv:
            self._events.append((func_name, qe))
            self._cv.notify_all()

    def onFailure(self, func_name, qe, exc):
        with self._cv:
            self._events.append((func_name, None))
            self._cv.notify_all()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    # ---------------------------------------------------------------------
    def close(self) -> None:
        self._listeners.unregister(self)

    def mark(self) -> int:
        with self._cv:
            return len(self._events)

    def wait_after(self, mark: int, timeout: float = 30.0):
        """The last action that finished after ``mark``, as
        (func_name, summed metrics), or None if none arrived in time."""
        with self._cv:
            if not self._cv.wait_for(lambda: len(self._events) > mark, timeout):
                return None
            name, qe = self._events[-1]
            # drop the proxies so the JVM can free finished plans
            self._events[mark:] = [(n, None) for n, _ in self._events[mark:]]
        if qe is None:
            return name, None
        return name, self.summarize(qe.executedPlan())

    def _walk(self, plan, out: list) -> None:
        # one py4j call per node for all of its metrics: py4j round trips,
        # not the plan size, set the cost of a walk
        cls = plan.getClass().getSimpleName()
        metrics = {k: int(v) for k, v in _METRIC_RE.findall(plan.metrics().toString())}
        out.append((cls, metrics))
        if cls == "AdaptiveSparkPlanExec":
            kids = [plan.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [plan.plan()]
        else:
            kids = self._cc.asJava(plan.children())
        for kid in kids:
            self._walk(kid, out)

    def summarize(self, plan) -> dict:
        nodes: list = []
        self._walk(plan, nodes)
        py_nodes = [m for cls, m in nodes if "EvalPython" in cls]
        s = {
            "python_rows_per_node": [m.get("pythonNumRowsReceived", 0) for m in py_nodes],
            "codegen_ms": sum(
                m.get("pipelineTime", 0)
                for cls, m in nodes if cls == "WholeStageCodegenExec"
            ),
            "shuffle_bytes": sum(
                m.get("shuffleBytesWritten", 0)
                for cls, m in nodes if cls == "ShuffleExchangeExec"
            ),
        }
        for key in _PY_KEYS:
            s[key] = sum(m.get(key, 0) for m in py_nodes)
        return s
