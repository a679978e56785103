"""Traced-run collector: spans at each layer boundary plus Spark's own counters.

Everything here lives in the benchmark.  Layer boundaries are the public
functions of the package, wrapped by replacing the module attribute with a
function that opens a span and calls the original unchanged; ``uninstall``
puts the originals back.  Py4J round trips are counted by wrapping the
gateway client's ``send_command``.  Stage counters come from Spark's status
store and Python-eval metrics from the SQL status store, both read after a
call has finished, outside its span.

A span is ``{id, name, layer, parent, call, start, end, py4j}``, plus
``error`` when an exception left it; ``py4j`` is the number of Py4J round
trips made inside it.  A layer's self time is its spans' durations minus the
part covered by their child spans.  Spans of layer ``call`` (the root of a
call, and the benchmark's own code inside it) belong to no layer: their self
time is the part of the call's wall time that no layer accounts for.
Because the spans of one call nest, the self times of all layers plus that
remainder add up to the call's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time

LAYERS = ("compile", "dispatch", "plan", "execute", "sink", "manifest")

# physical operators that run Python workers (Arrow / pickled-row UDFs,
# mapInPandas / mapInArrow)
PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMap\w*InPandas"
    r"|AggregateInPandas|WindowInPandas|EvalPythonUDTF"
)

# SQL metric names of the Python-eval nodes (PythonSQLMetrics)
_PY_METRICS = {
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_received",
    "number of output rows": "pyworker.rows",
}

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def python_nodes(plan_string: str) -> int:
    """Python-eval operators in a physical plan's tree string."""
    return len(PYTHON_NODE.findall(plan_string))


class NullTracer:
    """The untraced run: spans cost a no-op context manager."""

    enabled = False

    def span(self, name, layer):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.call_id = None
        self.py4j_sends = 0

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name, layer):
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "call": self.call_id,
            "start": time.perf_counter(),
            "end": None,
            "py4j": self.py4j_sends,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["py4j"] = self.py4j_sends - s["py4j"]
            self._stack.pop()

    # -- wrapping ----------------------------------------------------------

    def wrap(self, owner, attr, layer, name=None):
        """Replace ``owner.attr`` by a function that runs the original inside
        a span.  Arguments, result and exceptions pass through unchanged; the
        span records the class of an exception that leaves the call."""
        fn = getattr(owner, attr)
        tracer = self
        span_name = name or attr

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name, layer) as s:
                try:
                    return fn(*args, **kwargs)
                except Exception as e:
                    s["error"] = type(e).__name__
                    raise

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def count_py4j(self, gateway_client):
        send = gateway_client.send_command
        tracer = self

        @functools.wraps(send)
        def counted(*args, **kwargs):
            tracer.py4j_sends += 1
            return send(*args, **kwargs)

        self._patched.append((gateway_client, "send_command", None))
        gateway_client.send_command = counted

    def install(self, spark):
        """Wrap the package's public layer entry points."""
        from json_schema_clj_spark import engine, manifest
        from json_schema_clj_spark.operators import validate as V
        from json_schema_clj_spark.plans import variant_compiler
        from json_schema_clj_spark.pyvalidator import udf, validator

        self.wrap(variant_compiler, "compile_for_json", "compile")
        # udf.py binds compile_schema by name at import; wrap both bindings
        self.wrap(validator, "compile_schema", "compile")
        self.wrap(udf, "compile_schema", "compile")
        self.wrap(V, "with_validation", "compile")
        self.wrap(engine, "validate_json_column", "dispatch")
        for sink in ("violation_rows", "verdicts", "keyword_breakdown"):
            self.wrap(V, sink, "sink")
        self.wrap(manifest, "run_resumable", "manifest")
        self.wrap(manifest.Manifest, "commit", "manifest")
        self.count_py4j(spark.sparkContext._gateway._gateway_client)

    def uninstall(self):
        for owner, attr, fn in reversed(self._patched):
            if fn is None:
                delattr(owner, attr)  # instance attribute over the class method
            else:
                setattr(owner, attr, fn)
        self._patched.clear()

    # -- per-call accounting -----------------------------------------------

    def call_spans(self, call_id) -> list[dict]:
        return [s for s in self.spans if s["call"] == call_id]

    @staticmethod
    def self_times(spans) -> dict:
        """Self time (ms) per layer for one call's spans; the root's self
        time is reported as ``unattributed``."""
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] is not None and s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS + ("unattributed",)}
        for s in spans:
            own = (s["end"] - s["start"] - child[s["id"]]) * 1e3
            out["unattributed" if s["layer"] == "call" else s["layer"]] += own
        return out

    @staticmethod
    def outermost(spans, pred) -> list[dict]:
        """Spans matching ``pred`` whose ancestors do not match it."""
        by_id = {s["id"]: s for s in spans}
        out = []
        for s in spans:
            if not pred(s):
                continue
            p = s["parent"]
            while p is not None and not pred(by_id[p]):
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out


def _scala_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


class SparkCounters:
    """Reads what Spark itself counted for the work a call started."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._acc = sc._jvm.org.apache.spark.util.AccumulatorContext
        self.drain()
        self._last_stage = max((s.stageId() for s in self._stages()), default=-1)
        self._seen_execs = self._sql.executionsCount()

    def drain(self):
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        return _scala_seq(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def since_last(self) -> dict:
        """Counters of the stages and SQL executions since the previous call."""
        self.drain()
        out = dict.fromkeys(
            (
                "exec.ms", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
                "exec.gc_ms", "exec.input_records", "exec.shuffle_read_bytes",
                "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.output_bytes",
                "plan.nodes", "plan.exchanges", "plan.python_nodes",
                "pyworker.rows", "pyworker.bytes_sent", "pyworker.bytes_received",
            ),
            0.0,
        )
        newest = self._last_stage
        for s in self._stages():
            if s.stageId() <= self._last_stage:
                continue
            newest = max(newest, s.stageId())
            if s.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += s.numCompleteTasks()
            out["exec.run_ms"] += s.executorRunTime()
            out["exec.cpu_ms"] += s.executorCpuTime() / 1e6
            out["exec.gc_ms"] += s.jvmGcTime()
            out["exec.input_records"] += s.inputRecords()
            out["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["exec.output_bytes"] += s.outputBytes()
        self._last_stage = newest

        n_exec = self._sql.executionsCount()
        for ex in _scala_seq(self._sql.executionsList(self._seen_execs, n_exec - self._seen_execs)):
            ex_id = ex.executionId()
            done = ex.completionTime()
            if done.isDefined() and ex.rootExecutionId() == ex_id:
                out["exec.ms"] += done.get().getTime() - ex.submissionTime()
            values = None
            for node in _scala_seq(self._sql.planGraph(ex_id).allNodes()):
                name = node.name()
                if name.startswith("WholeStageCodegen"):
                    continue
                out["plan.nodes"] += 1
                if "Exchange" in name and not name.startswith("Reused"):
                    out["plan.exchanges"] += 1
                if not PYTHON_NODE.search(name):
                    continue
                out["plan.python_nodes"] += 1
                for m in _scala_seq(node.metrics()):
                    key = _PY_METRICS.get(m.name())
                    if key is None:
                        continue
                    if values is None:
                        values = self._sql.executionMetrics(ex_id)
                    out[key] += self._metric_value(m.accumulatorId(), values)
        self._seen_execs = n_exec
        out["pyworker.gap_ms"] = out["exec.run_ms"] - out["exec.cpu_ms"]
        return out

    def _metric_value(self, acc_id, values) -> float:
        """Exact accumulator value while it is registered, else the value as
        the SQL status store formatted it."""
        acc = self._acc.get(acc_id)
        if acc.isDefined():
            return float(acc.get().value())
        text = values.get(acc_id)
        if text.isEmpty():
            return 0.0
        return parse_metric(text.get())


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"12,345"``, or a size such as
    ``"total (min, med, max ...)\\n1.5 MiB (...)"``."""
    lines = text.strip().splitlines()
    first = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", first)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "B", 1)
