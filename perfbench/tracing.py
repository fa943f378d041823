"""Per-layer tracing from outside the package.

``Tracer`` replaces chosen functions of the package with wrappers that
record a span (name, start, end, parent, operation) around each call; the
package itself is not edited. ``SqlStore`` reads Spark's SQL status store
(which works with the UI disabled) after each operation and turns its
executions into per-operation counts and busy times.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from typing import Any, Callable, Dict, List, Optional, Tuple

from harness import clipped, interval_union, parse_sql_metric

PKG = "datacontract_cli_spark"

# span name -> (module, attribute); a "Class.method" attribute wraps a method
TARGETS: Dict[str, Tuple[str, str]] = {
    "model.load_contract": ("model.contract", "load_contract"),
    "checks.compile_checks": ("checks.compile", "compile_checks"),
    "sources.bind_server_with_raw": ("sources.readers", "bind_server_with_raw"),
    "sources.read_iceberg": ("sources.iceberg_table", "read_iceberg"),
    "sources.plan_scan_with_deletes": ("sources.iceberg_table", "plan_scan_with_deletes"),
    "sources.plan_scan_entries": ("sources.iceberg_table", "plan_scan_entries"),
    "engine.test": ("engine.executor", "SparkContractEngine.test"),
    "engine.pool": ("engine.executor", "SparkContractEngine._run_agg_with_duplicates"),
    "engine.samples_batch": ("engine.executor", "SparkContractEngine._collect_samples_batch"),
    "engine.samples": ("engine.executor", "SparkContractEngine._collect_samples"),
    "engine.duplicate_samples": ("engine.executor",
                                 "SparkContractEngine._collect_duplicate_samples"),
    "operators.psi": ("operators.drift", "psi"),
    "operators.ks_statistic": ("operators.drift", "ks_statistic"),
    "operators.sketch_column": ("operators.tdigest", "sketch_column"),
    "operators.orphan_count": ("operators.refintegrity", "orphan_count"),
    "output.write_junit": ("output.writers", "write_junit"),
}


class Tracer:
    def __init__(self):
        self.enabled = False
        self.op: Optional[int] = None
        self.spans: List[Dict[str, Any]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _wrap(self, name: str, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            rec = {"name": name, "op": tracer.op, "start": time.time(), "end": None,
                   "parent": stack[-1] if stack else None}
            with tracer._lock:
                rec["id"] = len(tracer.spans)
                tracer.spans.append(rec)
            stack.append(rec["id"])
            try:
                result = fn(*args, **kwargs)
                if isinstance(result, (list, int)):
                    rec["result"] = len(result) if isinstance(result, list) else result
                return result
            finally:
                rec["end"] = time.time()
                stack.pop()

        return traced

    def install(self) -> None:
        """Wrap every target; a function is replaced in every module of
        the package that holds a reference to it, so callers that imported
        it by name see the wrapper too."""
        import importlib

        for name, (mod_name, attr) in TARGETS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(name, getattr(cls, meth)))
                continue
            original = getattr(mod, attr)
            wrapper = self._wrap(name, original)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for k, v in list(vars(m).items()):
                        if v is original:
                            setattr(m, k, wrapper)

    def of_op(self, op: int) -> List[Dict[str, Any]]:
        return [s for s in self.spans if s["op"] == op and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def span_time(spans: List[Dict[str, Any]], *names: str) -> float:
    """Wall time covered by spans of these names (nested calls count once)."""
    return interval_union((s["start"], s["end"]) for s in spans if s["name"] in names)


def span_result(spans: List[Dict[str, Any]], name: str) -> int:
    return sum(s.get("result", 0) for s in spans if s["name"] == name)


# ---------------------------------------------------------------------------
# SQL status store
# ---------------------------------------------------------------------------

# attributes summed over every plan node, by SQL metric name
_SUMMED = {
    "size of files read": "scan_bytes",
    "shuffle bytes written": "shuffle_bytes_written",
    "shuffle records written": "shuffle_records_written",
    "time to run Python workers": "python_worker_s",
    "time to start Python workers": "python_worker_start_s",
    "data sent to Python workers": "python_bytes_sent",
}


class SqlStore:
    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.bus = spark._jsc.sc().listenerBus()
        self.last_id = self._max_id()

    def _max_id(self) -> int:
        n = self.store.executionsCount()
        if n == 0:
            return -1
        last = self.conv.asJava(self.store.executionsList(int(n) - 1, 1))
        return int(last.get(0).executionId()) if last.size() else -1

    def drain(self) -> None:
        self.bus.waitUntilEmpty(30000)

    def skip(self) -> None:
        """Forget executions so far (after an untraced operation)."""
        self.drain()
        self.last_id = self._max_id()

    def new_executions(self) -> List[Dict[str, Any]]:
        """Every execution since the last call, with its interval (epoch
        seconds) and summed metrics."""
        self.drain()
        n = int(self.store.executionsCount())
        window = min(n, 2000)
        rows = self.conv.asJava(self.store.executionsList(n - window, window))
        out = []
        for i in range(rows.size() - 1, -1, -1):
            e = rows.get(i)
            eid = int(e.executionId())
            if eid <= self.last_id:
                break
            out.append(self._describe(e))
        out.reverse()
        if out:
            self.last_id = max(x["id"] for x in out)
        return out

    def _describe(self, e) -> Dict[str, Any]:
        eid = int(e.executionId())
        done = e.completionTime()
        description = str(e.description())
        rec: Dict[str, Any] = {
            "id": eid, "description": description[:200],
            "callsite": callsite_module(description),
            "start": e.submissionTime() / 1000.0,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
        }
        values = self.conv.asJava(self.store.executionMetrics(eid))
        for k in _SUMMED.values():
            rec[k] = 0.0
        rec["scan_rows"] = 0.0
        graph = self.store.planGraph(eid)
        for node in self.conv.asJava(graph.allNodes()):
            is_scan = str(node.name()).startswith("Scan")
            for metric in self.conv.asJava(node.metrics()):
                name = str(metric.name())
                attr = _SUMMED.get(name)
                if attr is None and not (is_scan and name == "number of output rows"):
                    continue
                value = parse_sql_metric(values.get(metric.accumulatorId()))
                if value is None:
                    continue
                rec[attr or "scan_rows"] += value
        return rec


def callsite_module(description: str) -> str:
    """The package module an execution's call site names, e.g.
    ``"collect at /x/datacontract_cli_spark/operators/drift.py:47"`` ->
    ``"operators.drift"``; ``"pool"`` for the executor's thread pool and
    ``"other"`` when Spark could not tell (JVM-side or unknown frames)."""
    path = description.split(" at ", 1)[-1].rsplit(":", 1)[0]
    if f"/{PKG}/" in path:
        return path.split(f"/{PKG}/", 1)[1][:-len(".py")].replace("/", ".")
    if "concurrent/futures" in path:
        return "pool"
    return "other"


def sql_by_callsite(executions: List[Dict[str, Any]]) -> Dict[str, float]:
    """Busy seconds of finished executions, grouped by call-site module."""
    groups: Dict[str, List[Tuple[float, float]]] = {}
    for x in executions:
        if x["end"] is not None:
            groups.setdefault(x["callsite"], []).append((x["start"], x["end"]))
    return {k: interval_union(v) for k, v in sorted(groups.items())}


def attribute(executions: List[Dict[str, Any]], spans: List[Dict[str, Any]],
              names: Tuple[str, ...], slack: float = 0.005) -> List[Tuple[float, float]]:
    """Intervals of executions submitted inside a span of one of ``names``
    (the status store keeps milliseconds, hence the slack)."""
    windows = [(s["start"] - slack, s["end"] + slack) for s in spans if s["name"] in names]
    return [(x["start"], x["end"]) for x in executions
            if x["end"] is not None and any(a <= x["start"] <= b for a, b in windows)]


def op_layers(wall: float, t0: float, t1: float, spans: List[Dict[str, Any]],
              executions: List[Dict[str, Any]]) -> Dict[str, float]:
    """Per-layer figures of one operation that ran from t0 to t1 (epoch)."""
    done = [x for x in executions if x["end"] is not None]
    busy = interval_union(clipped(((x["start"], x["end"]) for x in done), t0, t1))

    def sql(*names):
        return interval_union(clipped(attribute(done, spans, names), t0, t1))

    def total(attr):
        return float(sum(x[attr] for x in done))

    return {
        "model.load_contract_s": span_time(spans, "model.load_contract"),
        "checks.compile_s": span_time(spans, "checks.compile_checks"),
        "checks.specs": float(span_result(spans, "checks.compile_checks")),
        "sources.bind_s": span_time(spans, "sources.bind_server_with_raw",
                                    "sources.read_iceberg"),
        "sources.iceberg_plan_s": span_time(spans, "sources.plan_scan_with_deletes",
                                            "sources.plan_scan_entries"),
        "engine.test_s": span_time(spans, "engine.test"),
        "engine.sql_executions": float(len(executions)),
        "engine.sql_busy_s": busy,
        "engine.driver_gap_s": max(wall - busy, 0.0),
        "engine.pool_sql_s": sql("engine.pool"),
        "engine.samples_sql_s": sql("engine.samples_batch", "engine.samples",
                                    "engine.duplicate_samples"),
        "engine.scan_bytes": total("scan_bytes"),
        "engine.scan_rows": total("scan_rows"),
        "engine.shuffle_bytes_written": total("shuffle_bytes_written"),
        "engine.shuffle_records_written": total("shuffle_records_written"),
        "operators.drift_s": span_time(spans, "operators.psi", "operators.ks_statistic"),
        "operators.tdigest_s": span_time(spans, "operators.sketch_column"),
        "operators.python_worker_s": total("python_worker_s"),
        "operators.python_worker_start_s": total("python_worker_start_s"),
        "operators.python_bytes_sent": total("python_bytes_sent"),
        "operators.refintegrity_sql_s": sql("operators.orphan_count"),
        "output.write_s": span_time(spans, "output.write_junit"),
    }
