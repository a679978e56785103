"""Arrow-batched Spark integration for the Python backend.

For schemaless JSON documents (a string column of raw JSON), the compiled
validator tree is applied inside an Arrow UDF: Spark hands the UDF one
``pyarrow`` string array per batch (never per row), the closure tree —
compiled once on the driver and shipped inside the UDF closure — evaluates
each document of ``to_pylist()``, and the batch's verdicts go back as one
``StructArray`` of ``valid boolean`` and ``violations
array<VIOLATION_TYPE>``, the same two columns, with the same types, as the
Column and Variant backends, so every backend shares the sinks in
operators/validate.py.

A document that does not parse is a verdict, not a job failure: it gets
the Variant backend's single ``$parse`` violation ("malformed JSON", empty
paths) and ``valid = false``.  A NULL document gives ``valid`` and
``violations`` NULL.

This is the analog of the reference's one-doc `validate` entry point
(/root/reference/src/json_schema/core.clj:1500-1502) lifted to a
distributed column.  It is the *slow* path by design — SURVEY.md §1.2:
dynamic residual cases only.
"""

from __future__ import annotations

import json
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..plans.ir import VIOLATION_TYPE
from .validator import compile_schema

RESULT_TYPE = T.StructType(
    [
        T.StructField("valid", T.BooleanType()),
        T.StructField("violations", T.ArrayType(VIOLATION_TYPE)),
    ]
)
_ARROW_RESULT = to_arrow_type(RESULT_TYPE)

# exactly the Variant backend's violation for a document that does not
# parse (plans/variant_compiler.compile_for_json)
_PARSE_VIOLATION = ([], [], "$parse", "malformed JSON", "error")


def _reject_constant(name: str):
    """NaN and ±Infinity are not JSON (RFC 8259); ``parse_json`` rejects
    them, so the Python parse must too."""
    raise ValueError(f"{name} is not a JSON value")


def make_validate_udf(schema: dict, config: Optional[dict] = None, loader=None):
    """Compile once on the driver → an Arrow UDF over a JSON-string column."""
    validator = compile_schema(schema, config=config, loader=loader)

    @F.arrow_udf(RESULT_TYPE)
    def validate_json(docs: pa.Array) -> pa.Array:
        valids, violations = [], []
        for doc in docs.to_pylist():
            if doc is None:
                valids.append(None)
                violations.append(None)
                continue
            try:
                value = json.loads(doc, parse_constant=_reject_constant)
            except ValueError:
                valids.append(False)
                violations.append([_PARSE_VIOLATION])
                continue
            res = validator(value)
            valids.append(not res["errors"])
            violations.append(
                [
                    ([], [str(p) for p in e["path"]], None, e["message"], sev)
                    for sev, lst in (("error", res["errors"]), ("warning", res["warnings"]))
                    for e in lst
                ]
            )
        return pa.StructArray.from_arrays(
            [
                pa.array(valids, _ARROW_RESULT.field("valid").type),
                pa.array(violations, _ARROW_RESULT.field("violations").type),
            ],
            fields=list(_ARROW_RESULT),
        )

    return validate_json


def validate_json_df(
    df: DataFrame,
    schema: dict,
    json_col: str = "data_json",
    config: Optional[dict] = None,
    loader=None,
    out_col: str = "validation",
) -> DataFrame:
    """Annotate a DataFrame of JSON strings with validation results."""
    udf = make_validate_udf(schema, config=config, loader=loader)
    return df.withColumn(out_col, udf(F.col(json_col)))
