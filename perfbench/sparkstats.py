"""Engine-layer figures read from Spark itself, for traced runs.

* ``PlanListener`` is a QueryExecutionListener (a Python object behind a
  py4j callback) that walks the executed plan of every finished action —
  including the QueryExecution a ``write`` builds for itself — and keeps
  each operator's raw SQL metric values.
* ``ActionCounter`` counts the SQL executions, Spark jobs and stages one
  action started, from the SQL and app status stores, and finds its
  busiest stage for the task-skew figure.
"""

from __future__ import annotations

import statistics
import traceback
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# metric name on the operator -> (layer key, scale to the unit reported)
_METRICS = {
    "Scan": {"scan time": ("scan_ms", 1), "size of files read": ("scan_bytes", 1)},
    "Exchange": {
        "shuffle write time": ("shuffle_write_ms", 1e-6),
        "shuffle bytes written": ("shuffle_bytes", 1),
        "fetch wait time": ("shuffle_fetch_wait_ms", 1),
    },
    "Sort": {"sort time": ("sort_ms", 1), "spill size": ("spill_bytes", 1)},
    "Python": {
        "time to run Python workers": ("python_ms", 1),
        "time to start Python workers": ("python_startup_ms", 1),
        "time to initialize Python workers": ("python_startup_ms", 1),
        "data sent to Python workers": ("arrow_bytes_to_python", 1),
        "data returned from Python workers": ("arrow_bytes_from_python", 1),
    },
    "Write": {
        "task commit time": ("sink_ms", 1),
        "job commit time": ("sink_ms", 1),
        "written output": ("sink_bytes", 1),
        "number of written files": ("sink_files", 1),
        "number of output rows": ("sink_rows", 1),
    },
}
LAYER_KEYS = sorted({k for group in _METRICS.values() for k, _s in group.values()}
                    | {"exchanges", "python_nodes"})
# layer times that make up pipeline.accounted_frac.  python_startup_ms is
# left out: worker initialisation runs inside "time to run Python workers"
# (their sum exceeds the stage's slot time)
TIME_KEYS = ("scan_ms", "shuffle_write_ms", "shuffle_fetch_wait_ms", "sort_ms",
             "python_ms", "sink_ms")


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _group(node_name: str) -> str | None:
    if node_name.startswith("Scan"):
        return "Scan"
    if node_name in ("Exchange", "BroadcastExchange"):
        return "Exchange"
    if node_name == "Sort":
        return "Sort"
    if "Pandas" in node_name or "Python" in node_name or "Arrow" in node_name:
        return "Python"
    if node_name.startswith("Execute ") and "Insert" in node_name:
        return "Write"
    return None


def _walk(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(node.plan())
        return
    yield node
    if cls in ("ReusedExchangeExec", "InMemoryTableScanExec"):
        return  # the reused or cached plan was measured where it ran
    for child in _seq(node.children()):
        yield from _walk(child)


def plan_layers(qe) -> dict[str, float]:
    """Sum the layer metrics over every operator of an executed plan."""
    out = dict.fromkeys(LAYER_KEYS, 0.0)
    for node in _walk(qe.executedPlan()):
        name = node.nodeName()
        group = _group(name)
        if group == "Exchange":
            out["exchanges"] += 1
        elif group == "Python":
            out["python_nodes"] += 1
        wanted = _METRICS.get(group or "", {})
        if not wanted:
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            metric = it.next()._2()
            label = metric.name()
            label = label.get() if label.isDefined() else ""
            if label in wanted:
                key, scale = wanted[label]
                out[key] += metric.value() * scale
    return out


class PlanListener:
    """QueryExecutionListener collecting plan_layers of each action."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.records: list[dict] = []
        self.errors: list[str] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        try:
            self.records.append(plan_layers(qe))
        except Exception:  # a bad walk must not kill the listener bus
            self.errors.append(f"{func_name}: {traceback.format_exc()}")

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.errors.append(f"{func_name} failed")

    def drain(self) -> list[dict]:
        """Wait for pending listener events, return and clear the records."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.records = self.records, []
        return out

    def unregister(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)


def sum_layers(records: list[dict]) -> dict[str, float]:
    out = dict.fromkeys(LAYER_KEYS, 0.0)
    for rec in records:
        for k, v in rec.items():
            out[k] += v
    return out


class ActionCounter:
    """SQL executions, jobs, stages and (with a listener) plan layers of
    the actions run inside ``measure()``."""

    def __init__(self, spark, listener: PlanListener | None = None):
        self.sc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.listener = listener

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    @contextmanager
    def measure(self):
        self._drain()
        if self.listener is not None:
            self.listener.drain()
        before = self.sql_store.executionsCount()
        got: dict = {}
        yield got
        self._drain()
        after = self.sql_store.executionsCount()
        execs = _seq(self.sql_store.executionsList(before, after - before))
        stages: set[int] = set()
        for ex in execs:
            it = ex.stages().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        got["jobs"] = sum(ex.jobs().size() for ex in execs)
        got["stages"] = sorted(stages)
        if self.listener is not None:
            got["layers"] = sum_layers(self.listener.drain())

    def close(self) -> None:
        if self.listener is not None:
            self.listener.unregister()
            if self.listener.errors:
                raise RuntimeError("plan listener: " + "; ".join(self.listener.errors))

    def task_skew(self, stage_ids: list[int]) -> float:
        """Slowest / median task duration in the stage with the largest
        summed executor run time."""
        store = self.sc.statusStore()
        best = None
        for sid in stage_ids:
            try:
                data = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped by a reused exchange: no attempt
                continue
            if best is None or data.executorRunTime() > best.executorRunTime():
                best = data
        if best is None:
            return 0.0
        tasks = _seq(store.taskList(best.stageId(), best.attemptId(), 100000))
        durations = [t.duration().get() for t in tasks if t.duration().isDefined()]
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med else 0.0
