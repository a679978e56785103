"""Per-layer metrics of a traced run, from its spans and Spark counters.

Every figure is a mean per timed call.  Metrics of a layer that a workload
never enters read 0.
"""

from __future__ import annotations

import json
import os

from .trace import LAYERS, Tracer

SINKS = ("violation_rows", "verdicts", "keyword_breakdown")

# name → unit, in the order BENCHMARK.json lists them
UNITS = {
    "compile.ms": "ms",
    "compile.calls": "count",
    "compile.py4j_calls": "count",
    "variant_compile.ms": "ms",
    "variant_compile.unsupported": "count",
    "py_compile.ms": "ms",
    "backend.variant": "count",
    "backend.python": "count",
    "plan.ms": "ms",
    "plan.nodes": "count",
    "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "exec.ms": "ms",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_records": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "pyworker.gap_ms": "ms",
    "pyworker.rows": "count",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_received": "bytes",
    **{f"sink.{s}_ms": "ms" for s in SINKS},
    "sink.violation_rows": "count",
    "manifest.commits": "count",
    "manifest.commit_ms": "ms",
    **{f"self.{layer}_ms": "ms" for layer in LAYERS + ("unattributed",)},
    "call.wall_ms": "ms",
}


def _ms(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans) * 1e3


def call_metrics(spans, rec) -> tuple[dict, float]:
    """One call's metrics, and by how much (ms) its layer self times plus
    the unattributed remainder miss its wall time."""
    root = next(s for s in spans if s["parent"] is None)
    wall_ms = (root["end"] - root["start"]) * 1e3
    own = Tracer.self_times(spans)
    compile_spans = Tracer.outermost(spans, lambda s: s["layer"] == "compile")
    named = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    variant = named("compile_for_json")
    commits = named("commit")
    backend = rec["info"].get("backend")
    m = {
        "compile.ms": _ms(compile_spans),
        "compile.calls": len(compile_spans),
        "compile.py4j_calls": sum(s["py4j"] for s in compile_spans),
        "variant_compile.ms": _ms(variant),
        "variant_compile.unsupported": sum(
            s.get("error") == "ColumnBackendUnsupported" for s in variant
        ),
        "py_compile.ms": _ms(Tracer.outermost(spans, lambda s: s["name"] == "compile_schema")),
        "backend.variant": int(backend == "variant"),
        "backend.python": int(backend == "python"),
        "plan.ms": _ms([s for s in spans if s["layer"] == "plan"]),
        **rec["spark"],
        **{f"sink.{s}_ms": _ms(named(s)) for s in SINKS},
        "sink.violation_rows": rec["info"].get("violation_rows", 0),
        "manifest.commits": len(commits),
        "manifest.commit_ms": _ms(commits),
        **{f"self.{layer}_ms": v for layer, v in own.items()},
        "call.wall_ms": wall_ms,
    }
    return m, abs(sum(own.values()) - wall_ms)


def layer_metrics(tr, per_call) -> tuple[dict, float]:
    """Per-call means of every per-layer metric, and the largest miss of
    the self-time sum against a call's wall time (ms)."""
    rows, max_err = [], 0.0
    for rec in per_call:
        m, err = call_metrics(tr.call_spans(rec["call"]), rec)
        rec["metrics"], rec["sum_err_ms"] = m, err
        rows.append(m)
        max_err = max(max_err, err)
    n = len(rows)
    return (
        {k: {"value": sum(r[k] for r in rows) / n, "unit": u} for k, u in UNITS.items()},
        max_err,
    )


def write_trace(directory, args, tr, per_call, report, max_err):
    """Spans and per-call counters of the timed calls, as one JSON file."""
    os.makedirs(directory, exist_ok=True)
    timed = {rec["call"] for rec in per_call}
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "report": report,
        "max_sum_err_ms": max_err,
        "calls": per_call,
        "spans": [s for s in tr.spans if s["call"] in timed],
    }
    path = os.path.join(directory, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
