"""Variant-backend conformance: the full authored draft suite + the
reference's v5/custom fixtures run as pure Catalyst over parse_json.

All compilable schemas are folded into ONE Spark job: every (schema_idx,
doc) row evaluates `CASE schema_idx WHEN i THEN ok_i END` — the compile-
once-run-everywhere shape.  Schemas the variant backend declines ($data,
deep recursion, non-scalar enum members) must raise
ColumnBackendUnsupported and are counted as clean fallbacks, never wrong
verdicts.
"""

import glob
import json
import os

from pyspark.sql import functions as F

from json_schema_clj_spark.plans.compiler import ColumnBackendUnsupported
from json_schema_clj_spark.plans.ir import Ctx
from json_schema_clj_spark.plans.variant_compiler import compile_variant
from json_schema_clj_spark.sources.suite import load_cases
from json_schema_clj_spark import engine

HERE = os.path.dirname(os.path.abspath(__file__))
REF = "/root/reference"


def _draft_paths():
    paths = []
    for d in ("draft3", "draft4", "draft6", "draft7"):
        # bignum.json: the variant binary encoding renders BOTH a
        # beyond-int64 integer and a fractionless float as DECIMAL(p,0)
        # (probe: parse_json('1.0') -> DECIMAL(1,0)), so the type dispatch
        # cannot hold 1 ≠ 1.0 and bignum-is-integer simultaneously —
        # documented limitation (variant_compiler.py parity notes);
        # bound/member bignum literals fall back cleanly via _i64_guard,
        # and the Python + Arrow paths validate the file exactly
        paths += [
            p
            for p in sorted(glob.glob(f"{HERE}/fixtures/{d}/*.json"))
            if not p.endswith("/bignum.json")
        ]
    return paths


def _all_cases():
    cases = load_cases(_draft_paths())
    cases += load_cases(sorted(glob.glob(f"{REF}/test/v5/*.json")))
    cases += load_cases([f"{REF}/test/custom-scenarios/nested_ref.json"])
    return cases


def _fold_conformance(spark, cases):
    """Run every variant-compilable schema of `cases` in ONE Spark job and
    assert no wrong verdict; declined schemas count as clean fallbacks,
    which must stay at most a quarter of the schemas."""
    by_schema: dict[str, list] = {}
    for c in cases:
        by_schema.setdefault(c["schema_json"], []).append(c)

    compiled_ok = {}
    fallbacks = 0
    rows = []
    for idx, (sj, cs) in enumerate(by_schema.items()):
        schema = json.loads(sj)
        try:
            ctx = Ctx(root_schema=schema)
            compiled_ok[idx] = compile_variant(schema, F.parse_json(F.col("data_json")), ctx).ok
        except ColumnBackendUnsupported:
            fallbacks += 1
            continue
        except Exception as e:
            raise AssertionError(f"variant compile crashed on {sj[:200]}: {e}")
        for c in cs:
            rows.append((idx, c["data_json"], c["valid"], c["group_desc"], c["test_desc"]))

    assert compiled_ok, "variant backend compiled nothing"
    df = spark.createDataFrame(
        rows, "schema_idx int, data_json string, expected boolean, g string, t string"
    )
    got = F.lit(None).cast("boolean")
    for idx, ok in compiled_ok.items():
        got = F.when(F.col("schema_idx") == idx, ok).otherwise(got)
    out = df.withColumn("got", got)
    bad = out.where(F.col("got") != F.col("expected")).collect()
    msg = "\n".join(f"[{r['g']} / {r['t']}] expected={r['expected']} data={r['data_json'][:80]}"
                    for r in bad[:15])
    total = len(rows)
    assert not bad, f"{len(bad)}/{total} variant verdicts wrong ({fallbacks} schemas fell back):\n{msg}"
    # coverage floor: the variant backend should handle the large majority
    assert fallbacks <= len(by_schema) * 0.25, (fallbacks, len(by_schema))


def test_variant_backend_conformance(spark):
    _fold_conformance(spark, _all_cases())


def test_variant_backend_conformance_in_repo(spark):
    """The same fold over the in-repo authored corpus only (draft3-7
    without bignum.json, plus the v5 fixtures): the fixture-level gate on
    the Variant view that needs no reference checkout."""
    v5 = sorted(glob.glob(f"{HERE}/fixtures/v5/*.json"))
    _fold_conformance(spark, load_cases(_draft_paths() + v5))


def test_variant_violation_paths(spark):
    """Dynamic instance paths (map keys, array indices) come out right."""
    schema = {"properties": {"xs": {"items": {"type": "integer"}},
                             "m": {"patternProperties": {"^f": {"minimum": 0}}}}}
    doc = {"xs": [1, "bad", 3], "m": {"foo": -1, "bar": -9}}
    df = spark.createDataFrame([(json.dumps(doc),)], "data_json string")
    out = engine.validate_json_column(df, schema, force_backend="variant")
    row = out.collect()[0]
    assert row["valid"] is False
    paths = sorted(tuple(v["instance_path"]) for v in row["violations"])
    assert paths == [("m", "foo"), ("xs", "1")]


def test_variant_numeric_identity(spark):
    """1 vs 1.0 distinction falls out of the variant type system."""
    docs = ["1", "1.0", '"1"']
    df = spark.createDataFrame([(d,) for d in docs], "data_json string")
    out = engine.validate_json_column(df, {"type": "integer"}, force_backend="variant")
    assert [r["valid"] for r in out.collect()] == [True, False, False]
    out = engine.validate_json_column(df, {"enum": [1]}, force_backend="variant")
    assert [r["valid"] for r in out.collect()] == [True, False, False]


def test_variant_is_default_fast_path(spark):
    """Auto dispatch uses the variant backend (no Python nodes) for a
    compilable schema, and it catches type mismatches (unlike from_json)."""
    schema = {"type": "object", "properties": {"name": {"type": "string"}}}
    df = spark.createDataFrame([('{"name": 5}',), ('{"name": "x"}',)], "data_json string")
    out = engine.validate_json_column(df, schema)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert [r["valid"] for r in out.collect()] == [False, True]


def test_variant_malformed_json_is_row_violation_not_job_failure(spark):
    """One malformed record must produce a $parse violation row, never an
    executor-side MALFORMED_RECORD_IN_PARSING abort (try_parse_json path);
    a null document is invalid with a definite False verdict, not NULL."""
    schema = {"type": "object", "required": ["k"]}
    df = spark.createDataFrame(
        [("a", '{"k": 1}'), ("b", "{oops"), ("c", None)], "id string, data_json string"
    )
    out = engine.validate_json_column(df, schema, force_backend="variant")
    rows = {r["id"]: r for r in out.collect()}
    assert rows["a"]["valid"] is True
    assert rows["b"]["valid"] is False
    assert [v["keyword"] for v in rows["b"]["violations"]] == ["$parse"]
    assert rows["c"]["valid"] is False  # not NULL — 3VL coalesced


def test_unique_items_object_key_order(spark):
    """Key-order-permuted duplicate objects ARE duplicates under Clojure
    `=` map semantics (core.clj uniqueItems uses distinct?).  The variant
    binary encoding stores object fields sorted, so the to_json canonical
    form catches them at every nesting depth — this pins the variant path
    against the exact Python backend on the cases the docstring used to
    scope out, plus the numeric identity edges (1 vs 1.0, 0.0 vs -0.0)."""
    schema = {"properties": {"arr": {"uniqueItems": True}}}
    docs = [
        {"arr": [{"a": 1, "b": 2}, {"b": 2, "a": 1}]},          # dup, reordered
        {"arr": [{"a": 1, "b": 2}, {"a": 1, "b": 3}]},          # distinct
        {"arr": [{"a": {"x": [{"p": 1, "q": 2}]}},              # nested reorder
                 {"a": {"x": [{"q": 2, "p": 1}]}}]},
        {"arr": [0.0, -0.0]},                                   # Clojure = equal
        {"arr": [1, 1.0]},                                      # 1 != 1.0
    ]
    v = engine.compile(schema)
    py = [not v(d)["errors"] for d in docs]
    assert py == [False, True, False, False, True]  # ground truth
    df = spark.createDataFrame(
        [(json.dumps(d),) for d in docs], "data_json string"
    )
    var = [
        r["valid"]
        for r in engine.validate_json_column(
            df, schema, force_backend="variant"
        ).collect()
    ]
    assert var == py
