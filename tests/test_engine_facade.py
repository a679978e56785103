"""Hybrid engine facade: backend dispatch, from_json fast path, parity
between backends on the same documents, and Catalyst column pruning
through the validation machinery."""

import json

from pyspark.sql import functions as F

from json_schema_clj_spark import engine
from json_schema_clj_spark.sources.images import FLAGSHIP_SCHEMA, images_df

CLOSED = {
    "type": "object",
    "required": ["name"],
    "properties": {
        "name": {"type": "string"},
        "age": {"type": "integer", "minimum": 0, "maximum": 150},
        "tags": {"type": "array", "items": {"type": "string"}, "maxItems": 3},
    },
}

DYNAMIC = {  # recursion → python backend
    "definitions": {"n": {"properties": {"next": {"$ref": "#/definitions/n"}},
                          "required": ["v"]}},
    "$ref": "#/definitions/n",
}

DOCS = [
    {"name": "a", "age": 3, "tags": ["x"]},
    {"name": "", "age": 3},             # blank-string quirk
    {"age": -1},                         # required + minimum
    {"name": "b", "tags": ["1", "2", "3", "4"]},  # maxItems
]


def _df(spark, docs):
    return spark.createDataFrame([(json.dumps(d),) for d in docs], "data_json string")


def test_one_doc_api():
    assert engine.validate(CLOSED, DOCS[0])["errors"] == []
    v = engine.compile(CLOSED)
    assert v(DOCS[2])["errors"]


def test_backend_dispatch(spark):
    df = _df(spark, DOCS)
    col_out = engine.validate_json_column(df, CLOSED, force_backend="column")
    plan = col_out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    py_out = engine.validate_json_column(df, DYNAMIC)  # python backend (default)
    plan = py_out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_backend_parity(spark):
    df = _df(spark, DOCS)
    col_valid = [r["valid"] for r in engine.validate_json_column(df, CLOSED, force_backend="column").collect()]
    py_valid = [
        r["valid"]
        for r in engine.validate_json_column(df, CLOSED, force_backend="python").collect()
    ]
    driver_valid = [not engine.validate(CLOSED, d)["errors"] for d in DOCS]
    assert col_valid == py_valid == driver_valid == [True, False, False, False]


def test_column_pruning_through_validation(spark, tmp_path):
    """A schema referencing only `w` must produce a parquet scan that reads
    only `w` — pushdown/pruning survives the violation machinery."""
    path = str(tmp_path / "imgs")
    images_df(spark, 1000).write.parquet(path)
    df = spark.read.parquet(path)
    out = engine.with_validation(df.select("w"), {"properties": {"w": {"minimum": 1}}})
    agg = out.agg(F.sum(F.col("valid").cast("int")))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<w:int>" in plan, plan[-1500:]


def test_full_table_scan_pruning(spark, tmp_path):
    """Even validating the FULL flagship schema, a verdict aggregation must
    not read `bytes` (the schema never references it beyond required, which
    is presence-only... it IS referenced; instead check an unreferenced
    column is pruned when dropped from the schema)."""
    path = str(tmp_path / "imgs2")
    images_df(spark, 1000).write.parquet(path)
    df = spark.read.parquet(path)
    schema = {k: v for k, v in FLAGSHIP_SCHEMA.items()}
    schema = {
        "type": "object",
        "required": ["image_id"],
        "properties": {"w": FLAGSHIP_SCHEMA["properties"]["w"]},
    }
    out = engine.with_validation(df, schema)
    agg = out.agg(F.sum(F.col("valid").cast("int")))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # bytes/caption/phash not referenced → pruned from the scan
    assert "bytes" not in plan.split("ReadSchema:")[-1]
    assert "caption" not in plan.split("ReadSchema:")[-1]

def test_default_backend_catches_type_mismatch(spark):
    """WHY python is the default for raw JSON: from_json nulls/coerces
    type-mismatched fields, which would silently pass `type` checks."""
    docs = [{"name": 5}]  # integer where a string is required
    df = _df(spark, docs)
    out = engine.validate_json_column(df, CLOSED).collect()
    assert out[0]["valid"] is False  # reference: "expected type of string"


def test_null_ok_custom_check_reads_invalid(spark):
    # a custom register_keyword check whose ok Column evaluates to NULL
    # must yield valid=False WITH its violation — valid == (empty?
    # violations) is the reference contract (core.clj valid? = no errors);
    # a NULL valid would silently drop the row from ~valid prefilters
    from pyspark.sql import functions as F

    from json_schema_clj_spark import engine
    from json_schema_clj_spark.plans.ir import simple_check
    from json_schema_clj_spark.plans.compiler import KEYWORD_COMPILERS

    def col_nullok(value, schema, target, ctx):
        # ok is NULL for any present value <= 3 (when with no otherwise):
        # the classic 3VL trap in a user-supplied check
        return simple_check(
            F.when(target > 3, F.lit(True)), ctx.schema_path,
            ctx.instance_path, "gt3Strict", "expected > 3", "error",
        )

    engine.register_keyword("gt3Strict", column_compiler=col_nullok)
    try:
        from json_schema_clj_spark.operators.validate import with_validation

        df = spark.createDataFrame([(1, 1), (2, 5)], "id long, v long")
        out = with_validation(
            df, {"properties": {"v": {"gt3Strict": True}}}
        ).select("id", "valid", F.size("violations").alias("nv")).collect()
        rows = {r["id"]: (r["valid"], r["nv"]) for r in out}
        assert rows[2] == (True, 0)
        # NULL ok: invalid (not NULL), violation emitted
        assert rows[1] == (False, 1)
    finally:
        KEYWORD_COMPILERS.pop("gt3Strict", None)


# h is bounded by the same document's w: the Variant view rejects $data,
# so auto dispatch falls back to the Python backend
DATA_BOUND = {
    "type": "object",
    "properties": {"w": {"type": "integer"}, "h": {"type": "integer", "maximum": {"$data": "1/w"}}},
}


def _count_variant_compiles(monkeypatch):
    from json_schema_clj_spark.plans import variant_compiler

    calls = []
    real = variant_compiler.compile_for_json

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(variant_compiler, "compile_for_json", counted)
    return calls


def _python_plan(out):
    return "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()


def test_variant_rejection_is_memoised(spark, monkeypatch):
    calls = _count_variant_compiles(monkeypatch)
    schema = dict(DATA_BOUND, description="rejection memo")
    df = _df(spark, [{"w": 3, "h": 2}, {"w": 3, "h": 4}])
    outs = [engine.validate_json_column(df, schema) for _ in range(2)]
    assert len(calls) == 1
    for out in outs:
        assert _python_plan(out)
        assert [r["valid"] for r in out.collect()] == [True, False]


def test_forced_variant_rejection_raises_same_message_when_memoised(spark, monkeypatch):
    import pytest

    from json_schema_clj_spark.plans.compiler import ColumnBackendUnsupported

    calls = _count_variant_compiles(monkeypatch)
    schema = dict(DATA_BOUND, description="forced rejection memo")
    df = _df(spark, [{"w": 3, "h": 2}])
    raised = []
    for _ in range(2):
        with pytest.raises(ColumnBackendUnsupported) as e:
            engine.validate_json_column(df, schema, force_backend="variant")
        raised.append(e.value)
    assert len(calls) == 1
    assert str(raised[0]) == str(raised[1]) == "$data on the variant backend"
    assert raised[0] is not raised[1]


def test_register_keyword_misses_compile_memo(spark, monkeypatch):
    from json_schema_clj_spark.plans.compiler import KEYWORD_COMPILERS

    calls = _count_variant_compiles(monkeypatch)
    schema = dict(DATA_BOUND, description="registry memo")
    df = _df(spark, [{"w": 3, "h": 2}])
    engine.validate_json_column(df, schema)
    engine.register_keyword("memoProbe", column_compiler=lambda *a: None)
    try:
        engine.validate_json_column(df, schema)
        engine.validate_json_column(df, schema)
    finally:
        KEYWORD_COMPILERS.pop("memoProbe")
    assert len(calls) == 2


def test_compile_memos_are_bounded(spark):
    from json_schema_clj_spark.plans import compiler

    df = spark.createDataFrame([(1,)], "a long")
    jdf = _df(spark, [{"a": 1}])
    for i in range(compiler.COMPILE_MEMO_SIZE + 3):
        schema = {"properties": {"a": {"maximum": 1000 + i}}}
        compiler.compile_for_table(schema, df.schema)
        engine.validate_json_column(jdf, schema)
    assert len(compiler._TABLE_COMPILE_CACHE) == compiler.COMPILE_MEMO_SIZE
    assert len(engine._JSON_COMPILE_CACHE) == compiler.COMPILE_MEMO_SIZE


def test_python_backend_result_shape_matches_variant(spark):
    from json_schema_clj_spark.pyvalidator.udf import validate_json_df

    schema = {"type": "object"}
    df = spark.createDataFrame([('{"k": 1}',), (None,)], "data_json string")
    py = engine.validate_json_column(df, schema, force_backend="python")
    var = engine.validate_json_column(df, schema, force_backend="variant")
    for name in ("valid", "violations"):
        assert py.schema[name].dataType == var.schema[name].dataType
    assert validate_json_df(df, schema).schema["validation"].dataType.fieldNames() == [
        "valid", "violations",
    ]
    assert [r["valid"] for r in py.collect()] == [True, None]


def test_malformed_document_is_same_parse_row_on_python_and_variant(spark):
    schema = {"type": "object", "required": ["k"]}
    docs = ['{"k": 1}', "{oops", '{"k": 1', "", '{"k": 1,}', "NaN", '{"k": Infinity}']
    df = spark.createDataFrame(list(enumerate(docs)), "id int, data_json string")

    def rows(backend):
        out = engine.validate_json_column(df, schema, force_backend=backend)
        return [(r["valid"], r["violations"]) for r in out.orderBy("id").collect()]

    py, var = rows("python"), rows("variant")
    assert py == var
    assert py[0] == (True, [])
    parse_row = [([], [], "$parse", "malformed JSON", "error")]
    assert [(v, [tuple(x) for x in viol]) for v, viol in py[1:]] == [(False, parse_row)] * 6
