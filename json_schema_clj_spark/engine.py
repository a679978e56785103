"""Engine facade — the API a json-schema.clj user lands on.

Reference surface (README.md:17-21, core.clj:1484-1502):

    (json-schema.core/validate schema value)     → {:errors [...] ...}
    (def v (json-schema.core/compile schema))    → reusable validator

This engine keeps those two (driver-side, via the Python backend) and adds
the distributed surface:

    validate(schema, value)             one document, {"errors": ...}
    compile(schema)                     reusable one-doc validator
    validate_table(df, schema, ...)     typed DataFrame → Column backend
    validate_json_column(df, schema)    JSON-string column → hybrid:
                                        Variant backend when the schema
                                        compiles over a VariantView, else
                                        the Arrow-batched Python backend
    register_keyword(...)               extension surface on the Column and
                                        Python backends (the schema-key
                                        multimethod analog,
                                        core.clj:132-134); on the auto JSON
                                        path a Column-target keyword falls
                                        back to Python
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.validate import validate as validate_table  # noqa: F401
from .operators.validate import with_validation
from .plans import compiler as _col_compiler
from .plans.compiler import ColumnBackendUnsupported, CompileMemo, compile_key
from .pyvalidator import validator as _py_validator
from .pyvalidator.udf import validate_json_df
from .pyvalidator.validator import compile_schema as compile  # noqa: A001
from .pyvalidator.validator import validate  # noqa: F401


def spark_schema_for(schema: dict) -> Optional[T.DataType]:
    """Best-effort Spark type for a JSON-Schema object (enough for
    from_json on closed-shape schemas); None when the shape is open/dynamic
    (unknown types, no properties, additional/pattern properties)."""
    t = schema.get("type")
    if t == "object" or (t is None and "properties" in schema):
        if "patternProperties" in schema or isinstance(schema.get("additionalProperties"), dict):
            return None
        props = schema.get("properties")
        if not props:
            return None
        fields = []
        for k, sub in props.items():
            if not isinstance(sub, dict):
                return None
            ft = spark_schema_for(sub)
            if ft is None:
                return None
            fields.append(T.StructField(k, ft))
        return T.StructType(fields)
    if t == "array":
        items = schema.get("items")
        et = spark_schema_for(items) if isinstance(items, dict) else None
        return T.ArrayType(et) if et is not None else None
    if t == "string" or t in ("date", "datetime", "time", "uri", "oid", "uuid", "email"):
        return T.StringType()
    if t == "integer":
        return T.LongType()
    if t == "number":
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    return None


_JSON_COMPILE_CACHE = CompileMemo()


def validate_json_column(
    df: DataFrame,
    schema: dict,
    json_col: str = "data_json",
    config: Optional[dict] = None,
    loader=None,
    force_backend: Optional[str] = None,
) -> DataFrame:
    """Validate a raw-JSON string column; returns df + `valid boolean` +
    `violations array<violation>`.

    Backend dispatch (default "auto"):

    1. **variant** — parse_json → VariantType keeps every value's runtime
       JSON type, so `schema_of_variant` gives exact type dispatch and the
       whole check tree stays pure Catalyst.  Used whenever the schema
       compiles on the variant backend (no $data, bounded $ref, scalar
       enum/const members, no Column-target custom keyword).
    2. **python** — the Arrow-batched interpreter, full conformance for
       everything else.

    `force_backend="column"` opts into the from_json struct fast path for
    TRUSTED-SHAPE data only: from_json (PERMISSIVE) coerces or nulls
    type-mismatched fields, which would silently pass `type` checks the
    reference fails.  `force_backend="variant"|"python"` pin a backend.
    """
    if force_backend in (None, "variant"):
        from .plans.variant_compiler import compile_for_json

        try:
            # parse ONCE in a dedicated projection: the non-cheap parse stays
            # an attribute reference inside the check tree instead of being
            # inlined (and re-parsed) at every keyword — ~5× at 20 checks
            tmp = f"__parsed_{json_col}"
            # memoize the compile result (Column construction is ~3 ms of
            # Py4J per op — seconds per compile; the tree only depends on
            # schema/colname/config, so compile once per process like the
            # reference's compile / validate split, core.clj:1484-1492).  A
            # rejection is memoized too: a schema the Variant view cannot
            # compile goes straight to Python on every later call.
            compiled = _JSON_COMPILE_CACHE.compile(
                compile_key(schema, json_col, config or None),
                lambda: compile_for_json(
                    schema, F.col(json_col), config=config, parsed_col=F.col(tmp)
                ),
            )
            out = df.withColumn(tmp, F.try_parse_json(F.col(json_col))).withColumn(
                "violations", compiled.violations
            )
            if not config:
                # coalesce: any residual NULL ok must read as invalid so
                # valid == (empty? violations) holds (reference contract)
                out = out.withColumn("valid", F.coalesce(compiled.ok, F.lit(False)))
            else:
                out = out.withColumn(
                    "valid",
                    F.size(F.filter(F.col("violations"), lambda v: v["severity"] == F.lit("error"))) == 0,
                )
            return out.drop(tmp)
        except ColumnBackendUnsupported:
            if force_backend == "variant":
                raise
    if force_backend == "column":
        st = spark_schema_for(schema)
        if st is not None and isinstance(st, T.StructType):
            try:
                parsed = df.withColumn("_doc", F.from_json(F.col(json_col), st))
                from .plans.ir import Ctx

                ctx = Ctx(
                    config=config or {},
                    root_schema=schema,
                    dtype=st,
                    root_col=F.col("_doc"),
                    root_dtype=st,
                )
                compiled = _col_compiler.compile_schema(schema, F.col("_doc"), ctx)
                out = parsed.withColumn("violations", compiled.violations).withColumn(
                    "valid", F.coalesce(compiled.ok, F.lit(False)) if not config else (
                        F.size(F.filter(F.col("violations"), lambda v: v["severity"] == F.lit("error"))) == 0
                    )
                )
                return out.drop("_doc")
            except ColumnBackendUnsupported:
                pass
        raise ColumnBackendUnsupported("schema is not Column-compilable")
    res = validate_json_df(df, schema, json_col=json_col, config=config, loader=loader)
    return (
        res.withColumn("valid", F.col("validation.valid"))
        .withColumn("violations", F.col("validation.violations"))
        .drop("validation")
    )


def register_keyword(name: str, column_compiler: Optional[Callable] = None,
                     python_compiler: Optional[Callable] = None):
    """Open keyword registration on both backends — the analog of adding a
    schema-key defmethod (core.clj:134).  `column_compiler` receives the
    typed target Column of the struct view; a Variant value has none, so
    schemas using the keyword run on the Python backend there."""
    if column_compiler is not None:
        _col_compiler.KEYWORD_COMPILERS[name] = column_compiler
    if python_compiler is not None:
        _py_validator.KEYWORDS[name] = python_compiler
